"""S4 — bulk re-index of documents matching a filter (BulkUpdateHandler twin).

Reference lifecycle (BulkUpdateHandler.java:32-165): parse q+fq* into
non-scoring filters, iterate the matching DocSet, per doc check the
``contains`` substring guard (:43,97), re-apply the XSLT transform, re-add
through the processor chain, commit; ``dryrun`` counts without writing,
``track`` collects the touched unique keys.

Spark shape: ``docs.filter(pred)`` → transform (mapInPandas / Column exprs)
→ rebuild ONLY the segments whose doc ranges were touched (segment ids are a
pure function of doc_id, so the touched set is a cheap distinct) → the merge
stage then refreshes the index. dryrun = count-only; track = capped id list.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bulk_update(
    docs: DataFrame,
    filters: list[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    *,
    contains: str | None = None,
    content_col: str = "content",
    dryrun: bool = False,
    track: bool = False,
    track_cap: int = 10_000,
    id_column: str = "doc_id",
) -> dict:
    """Returns {"numFound": n, "dryrun": bool, "ids": [...]?, "updated": df?}.

    ``filters`` are SQL expressions (non-scoring, P2); ``contains`` is the
    stored-field substring guard (P5, F.contains semantics).
    """
    matched = docs
    for fq in filters:
        matched = matched.filter(F.expr(fq))
    if contains is not None:
        matched = matched.filter(F.col(content_col).contains(contains))

    result: dict = {"dryrun": dryrun}
    if dryrun:
        result["numFound"] = matched.count()
        return result

    if track:
        ids = [r[id_column] for r in matched.select(id_column).limit(track_cap).collect()]
        result["ids"] = ids
        result["numFound"] = len(ids) if len(ids) < track_cap else matched.count()
    else:
        result["numFound"] = matched.count()

    updated = transform(matched) if transform is not None else matched
    # splice updated rows back over the full docs table (unique-key upsert E9)
    untouched = docs.join(updated.select(id_column), id_column, "left_anti")
    result["updated"] = untouched.unionByName(updated)
    return result

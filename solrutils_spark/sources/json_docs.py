"""S6 — streaming JSON document sink (JSONDocsWriter.java:22-251 twin).

The reference writes result docs as a bare JSON array with field selection
(``ReturnFields``) and hand-rolled escaping (:88-154). Spark's ``to_json``
handles escaping (C23); field selection is column pruning; the "bare array"
wire shape is an aggregation concern at the edge, not a distributed one.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def docs_json_lines(df: DataFrame, fields: list[str] | None = None) -> DataFrame:
    """Each row → one JSON object string (distributed; write with .write.text)."""
    if fields:
        df = df.select(*fields)
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def docs_json_array(df: DataFrame, fields: list[str] | None = None, limit: int = 1000) -> str:
    """The reference's exact wire shape — a bare JSON array (driver-side,
    bounded by ``limit``; used for response assembly, never for bulk export)."""
    rows = docs_json_lines(df.limit(limit), fields).collect()
    return "[" + ",".join(r["value"] for r in rows) + "]"


def to_response_docs(df: DataFrame, limit: int = 1000) -> list[dict]:
    """Rows → list of plain dicts (response assembly)."""
    return [json.loads(r["value"]) for r in docs_json_lines(df.limit(limit)).collect()]

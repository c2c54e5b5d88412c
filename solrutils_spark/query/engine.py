"""IndexReader — BM25 top-k over the merged on-disk index (E4/E5/T2/T3).

Query lifecycle (the Spark twin of SURVEY.md §3.1's Solr crossing):

1. analyze query text → terms (driver, frozen analyzer)
2. prune: ``index.filter(bucket IN … AND term IN …)`` — partition-directory
   pruning on ``bucket`` + row filter on ``term``; payload column read only
   for surviving rows (Parquet column/predicate pushdown)
3. global df per term = sum of row-level ``df_part`` (metadata-only pass,
   payload column never touched — column pruning does this for free)
4. score: ``wand.topk_rows``, the block-max WAND kernel, once per salt
   slice inside ``applyInPandas`` (dispatched by ``IndexReader._per_salt``,
   the one per-salt entry point of every distributed kernel)
5. merge: ``orderBy(score desc, doc_id).limit(k)`` over ≤ slices·k rows
   (TakeOrderedAndProject — never a full sort)
6. optional stored-field fetch: broadcast join of the tiny top-k against the
   docs table (J3, QueryReRankComponent.java:80-85 semantics)

Filters (P2, ``fq``) never affect scores — Lucene ``setIsFilter(true)``
semantics (BulkUpdateHandler.java:59). Two shapes:

- ``filter_df`` (the scale path): the filtered domain's doc_ids stay a
  DataFrame; each id is mapped to its salt slice by pure arithmetic
  (salt = doc_id // (segment_size·salt_group), geometry from stats.json)
  and COGROUPed with the candidate postings, so every kernel receives only
  its own slice's allowed ids — one keyed shuffle of (doc_id, salt) rows,
  nothing ever collected to the driver.
- ``filter_doc_ids`` (explicit small lists, e.g. rerank candidate sets):
  a driver-provided array broadcast into every kernel.

WAND pruning stays ON under filters: θ accumulates over allowed docs only,
and block upper bounds remain valid for any doc — rank-identical (pinned).
"""

from __future__ import annotations

import math
import re
from collections import OrderedDict
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solrutils_spark.index.builder import read_docs, read_stats
from solrutils_spark.index.codec import decode_postings
from solrutils_spark.index.merge import read_index, term_bucket
from solrutils_spark.query.exact import query_terms
from solrutils_spark.query import wand
# engine-level name for ``search_local`` only: Spark closures call
# ``wand.topk_rows`` so a caller patching this name (tracing) never ships
# the patch into tasks
from solrutils_spark.query.wand import topk_rows

TOPK_DDL = "doc_id long, score double"
BATCH_DDL = "query_id long, doc_id long, score double"
_PD_DTYPES = {"long": "int64", "double": "float64"}


def _empty_frame(ddl: str) -> pd.DataFrame:
    """Zero-row pandas frame with the dtypes of a ``"name type, …"`` DDL."""
    cols = (c.split() for c in ddl.split(","))
    return pd.DataFrame({n: pd.Series(dtype=_PD_DTYPES[t]) for n, t in cols})


def batch_frame(results) -> pd.DataFrame:
    """[(query_id, doc_ids, scores)] → ONE ``BATCH_DDL`` frame per slice
    from concatenated numpy arrays — a per-query pd.DataFrame + pd.concat
    costs ~20-50 µs × |queries| × 64 slices per job, a measurable slice of
    the batch's per-query marginal cost at 1M docs."""
    live = [(qid, d, s) for qid, d, s in results if d.size]
    if not live:
        return _empty_frame(BATCH_DDL)
    return pd.DataFrame({
        "query_id": np.concatenate(
            [np.full(d.size, qid, dtype=np.int64) for qid, d, _ in live]),
        "doc_id": np.concatenate([d for _, d, _ in live]),
        "score": np.concatenate([s for _, _, s in live]),
    })


def union_doc_ids(rows) -> np.ndarray:
    """Sorted unique doc_ids of posting-row records — every posting
    decoded, nothing scored (the unscored OR domain of one salt slice)."""
    out = [
        decode_postings(int(r.df_part), np.frombuffer(r.payload, dtype=np.uint8),
                        np.asarray(r.block_offset), np.asarray(r.block_last))[0]
        for r in rows
    ]
    return np.unique(np.concatenate(out)) if out else np.empty(0, np.int64)


class _PostingRow:
    """Lightweight posting-row record for the serving path (attribute access
    matches what ``topk_rows`` reads off pandas ``itertuples``)."""

    __slots__ = ("term", "salt", "df_part", "first_doc", "payload",
                 "block_offset", "block_last", "block_max_tf", "block_min_dl")


class _AlignedFilter(NamedTuple):
    """One filter-alignment cache entry (see ``_aligned_filter``)."""

    source: DataFrame   # the caller's frame: pins id() while cached
    aligned: DataFrame  # salted ids co-partitioned with the serving cache
    owned: bool         # persisted by the reader: eviction unpersists it


class KernelError(RuntimeError):
    """A per-salt kernel failed; the message names the slice it ran on."""


def _naming_slice(fn):
    """Wrap a per-salt kernel ``fn(rows, allowed)`` so that an exception
    re-raises as :class:`KernelError` naming the salt, the kernel's
    ``__qualname__`` and the slice's sorted distinct terms — a Python
    stage's traceback alone says neither which slice nor which query."""

    def run(rows, allowed):
        try:
            return fn(rows, allowed)
        except Exception as e:
            salt = rows[0].salt if rows else None
            terms = sorted({r.term for r in rows})
            raise KernelError(
                f"{fn.__qualname__} failed on salt={salt} terms={terms}: {e!r}"
            ) from e

    return run


_SALT_HASH = re.compile(r"hashpartitioning\(salt#\d+, (\d+)\)")


def _salt_hash_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` when its executed plan is hash-partitioned
    on ``salt`` alone — the layout the per-salt cogroup needs to skip the
    filter-side exchange — else None (round-robin, range, unknown).

    ``df.rdd`` runs the frame's adaptive stages first: until then AQE's
    root reports UnknownPartitioning."""
    df.rdd.getNumPartitions()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    m = _SALT_HASH.fullmatch(plan.outputPartitioning().toString())
    return int(m.group(1)) if m else None


_SLICED_FALLBACKS = 0  # observability: serving reads should NEVER be sliced


def _list_col_views(arr) -> list[np.ndarray]:
    """pyarrow ListArray → per-row numpy views (zero-copy; no python lists).

    At 1M+ docs a hot term's block arrays hold thousands of entries —
    ``to_pydict`` boxes every element into a Python object (measured: serving
    p50 633→883 ms at 1M), while offset-sliced views cost O(rows)."""
    if arr.offset != 0:  # sliced array: offsets buffer is shifted — rare here
        # Counted, not silent (round-3 advice): serving reads are whole
        # tables post-combine_chunks, so this boxing path indicates an
        # upstream pyarrow behavior change eating the zero-copy win. The
        # counter makes that visible to a latency investigation.
        global _SLICED_FALLBACKS
        _SLICED_FALLBACKS += 1
        return [np.asarray(v) for v in arr.to_pylist()]
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    vals = arr.values.to_numpy(zero_copy_only=False)
    return [vals[offs[i] : offs[i + 1]] for i in range(len(arr))]


def _rows_from_arrow(tbl) -> list[_PostingRow]:
    """pyarrow Table → records, bypassing pandas (serving hot path)."""
    tbl = tbl.combine_chunks()
    terms = tbl.column("term").to_pylist()
    salts = tbl.column("salt").to_pylist()
    df_parts = tbl.column("df_part").to_numpy(zero_copy_only=False)
    first_docs = tbl.column("first_doc").to_numpy(zero_copy_only=False)
    payloads = tbl.column("payload").to_pylist()
    col = lambda n: tbl.column(n).chunk(0) if tbl.column(n).num_chunks else None  # noqa: E731
    n = tbl.num_rows
    if n == 0:
        return []
    offs = _list_col_views(col("block_offset"))
    lasts = _list_col_views(col("block_last"))
    mtfs = _list_col_views(col("block_max_tf"))
    mdls = _list_col_views(col("block_min_dl"))
    out = []
    for i in range(n):
        r = _PostingRow()
        r.term = terms[i]
        r.salt = salts[i]
        r.df_part = df_parts[i]
        r.first_doc = first_docs[i]
        r.payload = payloads[i]
        r.block_offset = offs[i].astype(np.int32, copy=False)
        r.block_last = lasts[i].astype(np.int64, copy=False)
        r.block_max_tf = mtfs[i].astype(np.int64, copy=False)
        r.block_min_dl = mdls[i].astype(np.int64, copy=False)
        out.append(r)
    return out


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self.index = read_index(spark, index_dir)
        # memoized reads of the on-disk index (immutable after build): each
        # fresh read would re-list its files and re-read parquet footers,
        # one Spark job per request
        self._docs: DataFrame | None = None
        self._lean_docs: DataFrame | None = None
        self._positional_index: DataFrame | None = None
        self._df_cache: dict[str, int] = {}
        # (field, value) → df of a keyword-field clause (qparser)
        self._field_df_cache: dict[tuple[str, str], int] = {}
        self._bucket_datasets: dict[int, object] = {}
        self._serving_partitions: int | None = None
        # filter-alignment cache: id(filter_df) → _AlignedFilter.
        # Bounded LRU; see _aligned_filter.
        self._filter_align_cache: "OrderedDict[int, _AlignedFilter]" = OrderedDict()
        self._filter_align_max = 8

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = read_docs(self.spark, self.index_dir)
        return self._docs

    @property
    def lean_docs(self) -> DataFrame:
        """The docs table without the doc_len sidecar join (stored-field
        fetches)."""
        if self._lean_docs is None:
            self._lean_docs = read_docs(self.spark, self.index_dir, with_len=False)
        return self._lean_docs

    @property
    def positional_index(self) -> DataFrame:
        """The on-disk index INCLUDING the positional sidecar columns — not
        the lean serving cache: only phrase queries pay for position bytes."""
        if self._positional_index is None:
            self._positional_index = read_index(
                self.spark, self.index_dir, with_positions=True
            )
        return self._positional_index

    def cache_for_serving(self, num_partitions: int | None = None,
                          sort_for_pruning: bool = False) -> "IndexReader":
        """Hot-index mode: repartition the postings by ``salt`` and persist.

        Every scored query stage groups the candidate rows by ``salt``
        (:meth:`_per_salt`); with the cache already hash-partitioned on
        salt, Catalyst elides the per-query Exchange (ClusteredDistribution
        is satisfied by the cached partitioning for ANY partition count) —
        repeated queries shuffle ZERO bytes and go straight from cache scan
        to kernel. The cluster twin is a salt-bucketed index table kept
        resident on the serving executors.

        ``num_partitions``: tuning knob for the cached partition count.
        Default (round 6): ``min(4 · num_salts, spark.sql.shuffle.partitions)``
        — the kernel stage can never have more than ``num_salts`` non-empty
        groups, so partitions beyond a few × num_salts are pure empty-task
        overhead (measured on the 8-salt bench index at local[32]:
        128 cached partitions = 120 empty python-kernel tasks PER JOB;
        13-query filtered loop 13.6 s → 6.9 s and batch 2.3 → 0.8 s at 32
        partitions). The 4× oversubscription averages hash-collision
        imbalance (hashing S salts into exactly S partitions doubles-up
        ~1/e of them), and the shuffle-partitions cap keeps large-salt
        indexes at the session's parallelism. A round-5 experiment
        defaulted this to one partition per CORE (8, on a 64-salt index)
        hoping to cut the ~2.5 s/job batch floor; measured at 1M docs it
        did the OPPOSITE — core-count fat tasks serialize ~8 salts behind
        the slowest sibling (fixed cost 2.46 → 3.33 s). The round-6
        formula keeps that regime unchanged (min(256, 32) = 32) while
        removing the empty-task overhead where salts ≪ shuffle
        partitions. Note a filter side persisted at a DIFFERENT partition
        count makes the cogroup re-exchange the pruned candidate rows
        (bucket/term-filtered — MBs, not the index); since round 6 the
        reader detects this and re-partitions + persists the filter ids
        itself, once per frame (:meth:`_aligned_filter`) — callers that
        co-partition their filterCache up front simply bypass that cache.

        ``sort_for_pruning``: sort rows by ``(bucket, term)`` within each
        salt partition before caching, so InMemoryRelation's per-batch
        min/max stats let a query's ``bucket/term`` filter skip whole cached
        batches (zone-map pruning; ``sortWithinPartitions`` preserves the
        salt hash-partitioning, so the per-query Exchange stays elided).
        Measured at 1M docs (order-controlled A/B, fresh JVMs, driver-local
        p50 as a host-contention canary): the scan stage DOES get faster
        (12-query candidate scan 4.2 → 3.6 s; scan+group 5.4 → 3.6 s), but
        end-to-end batch/serving numbers are neutral to slightly negative —
        the scan is not the binding cost at this scale (the Python kernel
        stage and job floor are), so the default stays OFF. On a cluster
        with a much larger vocabulary (scan-bound), turn it on."""
        if num_partitions is None:
            num_salts = int(self.stats.get("num_salts", 0))
            shuffle_parts = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            num_partitions = (
                min(4 * num_salts, shuffle_parts) if num_salts > 0
                else shuffle_parts
            )
        part = self.index.repartition(int(num_partitions), "salt")
        if sort_for_pruning:
            part = part.sortWithinPartitions("bucket", "term")
        self.index = part.persist()
        self.index.count()
        if int(num_partitions) != self._serving_partitions:
            # aligned filters were co-partitioned for the OLD count: each
            # would now force the per-query exchange they exist to elide
            self._drop_aligned_filters()
        self._serving_partitions = int(num_partitions)
        return self

    def _drop_aligned_filters(self) -> None:
        for entry in self._filter_align_cache.values():
            if entry.owned:
                entry.aligned.unpersist()
        self._filter_align_cache.clear()

    def idf(self, df: int) -> float:
        n = self.stats["n_docs"]
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _candidate_rows(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        return self.index.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def has_positions(self) -> bool:
        """True when the on-disk index carries the positional sidecar
        (round-6 codec third stream) — schema check only."""
        return "pos_payload" in self.positional_index.columns

    def _candidate_rows_with_positions(self, terms: list[str]) -> DataFrame:
        """Candidate rows INCLUDING the positional sidecar columns, for
        their own terms' buckets only."""
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        return self.positional_index.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per query term. Served from the bucket-partitioned
        ``termdf`` sidecar via direct pyarrow reads (no Spark job — the
        lookup touches ≤ |query terms| bucket directories and is cached);
        falls back to a Spark aggregation for indexes built before the
        sidecar existed."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            sidecar = Path(self.index_dir) / "termdf"
            if sidecar.exists():
                self._df_cache.update(self._sidecar_dfs(sidecar, missing))
            else:
                rows = (
                    self._candidate_rows(missing)
                    .groupBy("term")
                    .agg(F.sum("df_part").alias("df"))
                    .collect()
                )
                self._df_cache.update({r["term"]: int(r["df"]) for r in rows})
                for t in missing:
                    self._df_cache.setdefault(t, 0)
        return {t: self._df_cache[t] for t in terms if self._df_cache.get(t)}

    def _sidecar_dfs(self, sidecar: Path, terms: list[str]) -> dict[str, int]:
        import pyarrow.dataset as ds

        out = {t: 0 for t in terms}
        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        for b in buckets:
            bdir = sidecar / f"bucket={b}"
            if not bdir.exists():
                continue
            table = ds.dataset(str(bdir)).to_table(
                columns=["term", "df"],
                filter=ds.field("term").isin(terms),
            )
            for t, d in zip(table["term"].to_pylist(), table["df"].to_pylist()):
                out[t] = int(d)
        return out

    def salt_span(self) -> int:
        """doc_ids per salt slice: salt = doc_id // salt_span (pure
        arithmetic — segment/salt geometry persisted by the build)."""
        seg = int(self.stats["segment_size"])
        g = self.stats.get("salt_group")
        if g is None:  # index built before the geometry was persisted
            n_segments = max(1, -(-int(self.stats["n_docs"]) // seg))
            g = max(1, -(-n_segments // int(self.stats["num_salts"])))
        return int(g) * seg

    def salted_filter(self, filter_df: DataFrame) -> DataFrame:
        """(doc_id) → (doc_id, salt) for the cogroup filter path. Passes
        through unchanged if the caller already salted it — a filterCache can
        hand in ``salted_filter(ids).repartition("salt").persist()`` so the
        per-query filter-side exchange is elided too (the Solr analog keeps
        DocSets in index order for cheap intersection)."""
        if "salt" in filter_df.columns:
            return filter_df
        span = self.salt_span()
        return filter_df.select(
            F.col(filter_df.columns[0]).cast("long").alias("doc_id")
        ).withColumn("salt", (F.col("doc_id") / F.lit(span)).cast("int"))

    def _aligned_filter(self, filter_df: DataFrame) -> DataFrame:
        """Salt the filter side and CO-PARTITION it with the serving cache.

        The scored-filter cogroup requires both children clustered by
        ``salt`` with the same partition count. A filterCache persisted at a
        different count (e.g. ``repartition("salt")`` under default shuffle
        partitions = 128 against a 32-partition serving cache — the shape a
        caller gets by following the salted_filter docstring verbatim on a
        local session) forces EnsureRequirements to re-exchange one side on
        EVERY query job. Measured on the 20k bench index (local[32],
        interleaved reps): the 13-query filtered loop runs 20-30% slower
        with a 128-partition filter than with a co-partitioned one
        (10.7/8.7/5.6 s vs 7.7/6.9/4.2 s), and a co-partitioned filter is at
        parity with the unfiltered loop.

        When serving mode is on and the salted ids are not hash-partitioned
        on ``salt`` at the serving count (a different count, or the right
        count by round-robin ``repartition(n)``, which Catalyst still has to
        re-exchange), they are re-partitioned ONCE and persisted (persist —
        not localCheckpoint — because only InMemoryRelation preserves the
        hash partitioning for Catalyst; a checkpointed RDD reports
        UnknownPartitioning and the per-query exchange comes back). Entries live in a bounded LRU keyed
        by the caller's filter frame (the Solr filterCache analog,
        filterCache semantics like PlanExecutor._cached_filter_ids):
        at most ``_filter_align_max`` aligned domains are resident, eviction
        unpersists. On a correctly co-partitioned cluster deployment the
        layouts match and this cache never persists a copy."""
        n = self._serving_partitions
        if n is None:
            return self.salted_filter(filter_df)
        key = id(filter_df)
        hit = self._filter_align_cache.pop(key, None)
        if hit is not None:
            self._filter_align_cache[key] = hit  # re-insert → most recent
            return hit.aligned
        fids = self.salted_filter(filter_df)
        try:
            cur = _salt_hash_partitions(fids)
        except Exception:
            return fids
        if cur == n:
            # memoize the pass-through too: the partitioning probe above
            # is a per-frame plan conversion (~tens of ms of py4j) that a
            # correctly co-partitioned caller should pay once, not per query.
            # The count alone is not enough: a round-robin repartition(n)
            # has the right count and still needs the exchange.
            aligned, owned = fids, False
        else:
            aligned, owned = fids.repartition(n, "salt").persist(), True
        # eviction must not unpersist a caller's own cache (owned=False)
        self._filter_align_cache[key] = _AlignedFilter(filter_df, aligned, owned)
        if len(self._filter_align_cache) > self._filter_align_max:
            _, old = self._filter_align_cache.popitem(last=False)
            if old.owned:
                old.aligned.unpersist()
        return aligned

    def _per_salt(self, cand: DataFrame, fn, schema: str, *,
                  filter_df: DataFrame | None = None,
                  filter_doc_ids: list[int] | None = None) -> DataFrame:
        """Run ``fn(rows, allowed)`` on every salt slice of the candidate
        rows ``cand`` and union the pandas frames it returns (``schema``
        DDL) — the one dispatch of every per-salt kernel.

        ``rows`` are the slice's posting-row records (pandas ``itertuples``);
        ``allowed`` is the slice's sorted int64 allowed doc_ids, or None
        when unfiltered:

        - ``filter_df``: the salted ids, co-partitioned by
          :meth:`_aligned_filter`, are COGROUPed with the candidates by
          salt; a slice with no candidate row or no allowed id yields no
          rows and never reaches ``fn``;
        - ``filter_doc_ids``: one sorted array shipped with the closure to
          every slice.

        ``fn`` must not close over the reader (it is pickled into tasks). An
        exception in ``fn`` surfaces as :class:`KernelError` naming the salt,
        the kernel and the slice's terms."""
        fn = _naming_slice(fn)
        if filter_df is not None:
            fids = self._aligned_filter(filter_df)
            empty = _empty_frame(schema)

            def ckernel(cand_pdf: pd.DataFrame, fid_pdf: pd.DataFrame) -> pd.DataFrame:
                if cand_pdf.empty or fid_pdf.empty:
                    return empty
                allowed = np.sort(fid_pdf["doc_id"].to_numpy(np.int64))
                return fn(list(cand_pdf.itertuples(index=False)), allowed)

            return (
                cand.groupBy("salt")
                .cogroup(fids.groupBy("salt"))
                .applyInPandas(ckernel, schema)
            )
        allowed = (
            np.sort(np.asarray(filter_doc_ids, dtype=np.int64))
            if filter_doc_ids is not None
            else None
        )

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(list(pdf.itertuples(index=False)), allowed)

        return cand.groupBy("salt").applyInPandas(kernel, schema)

    def search(
        self,
        query_text: str,
        k: int = 10,
        *,
        offset: int = 0,
        filter_doc_ids: list[int] | None = None,
        filter_df: DataFrame | None = None,
        use_wand: bool = True,
    ) -> DataFrame:
        """Disjunctive BM25 top-k → DataFrame(doc_id, score), ranked.

        ``filter_df``: single-column DataFrame of allowed doc_ids — the
        DISTRIBUTED filter path (see module docstring). ``filter_doc_ids``:
        small driver-side list. Both are P2 semantics (restrict, never score).
        """
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t)]
        if not terms:
            return self.spark.createDataFrame([], TOPK_DDL)

        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        avgdl = float(self.stats["avgdl"])
        fetch_k = k + offset

        def kernel(rows, allowed) -> pd.DataFrame:
            d, s = wand.topk_rows(rows, idf_by_term, avgdl, fetch_k,
                                  use_wand=use_wand, allowed_docs=allowed)
            return pd.DataFrame({"doc_id": d, "score": s})

        sliced = self._per_salt(self._candidate_rows(terms), kernel, TOPK_DDL,
                                filter_df=filter_df, filter_doc_ids=filter_doc_ids)
        ranked = sliced.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch_k)
        if offset:
            ranked = ranked.offset(offset)
        return ranked

    def search_conj(self, query_text: str, k: int = 10, *, offset: int = 0,
                    filter_df: DataFrame | None = None) -> DataFrame:
        """Conjunctive (q.op=AND) BM25 top-k — see query/boolean.py."""
        from solrutils_spark.query.boolean import search_conj

        return search_conj(self, query_text, k, offset=offset,
                           filter_df=filter_df)

    def phrase_search(self, phrase_text: str, k: int = 10,
                      slop: int = 0) -> DataFrame:
        """Phrase query, exact or sloppy (candidate-verify) — see
        query/boolean.py."""
        from solrutils_spark.query.boolean import phrase_search

        return phrase_search(self, phrase_text, k, slop=slop)

    def prefix_search(self, pattern: str, k: int = 10,
                      max_expansions: int = 1024) -> DataFrame:
        """Prefix/wildcard query (constant-score) — see query/boolean.py."""
        from solrutils_spark.query.boolean import prefix_search

        return prefix_search(self, pattern, k, max_expansions)

    def fuzzy_search(self, term: str, k: int = 10, max_edits: int = 1,
                     max_expansions: int = 50) -> DataFrame:
        """Fuzzy term query (constant-score) — see query/boolean.py."""
        from solrutils_spark.query.boolean import fuzzy_search

        return fuzzy_search(self, term, k, max_edits, max_expansions)

    def search_batch(
        self,
        queries: list[tuple[int, str, int]],
        *,
        filter_df: DataFrame | None = None,
    ) -> DataFrame:
        """Score MANY queries in ONE Spark job → (query_id, doc_id, score, rank).

        The throughput path for offline evaluation / reranking pipelines:
        candidate rows for the UNION of all query terms are fetched once,
        each salt-slice scores every query locally (shared decode within the
        slice), and a per-query window takes global top-k. Per-query results
        are rank-identical to :meth:`search` (same stats, same term order;
        ``wand.topk_slice_batch`` is the exhaustive shared-decode kernel).

        ``filter_df``: optional single-column DataFrame of allowed doc_ids
        applied to EVERY query in the batch (P2 semantics — restrict, never
        score). Same salt-cogroup shape as :meth:`search`: the filter ids are
        salted by arithmetic and cogrouped with the candidate postings, so a
        filtered offline-eval batch is still ONE job with a once-per-term
        intersection (round 2 paid one kernel job PER filtered query).
        Rank-identical to per-query ``search(filter_df=...)`` (pinned).
        """
        from pyspark.sql import Window

        all_terms = sorted({t for _, q, _ in queries for t in query_terms(q)})
        dfs = self.term_dfs(all_terms)
        plans = []
        for qid, qtext, k in queries:
            terms = [t for t in query_terms(qtext) if dfs.get(t)]
            if terms:
                plans.append((qid, {t: self.idf(dfs[t]) for t in terms}, k))
        if not plans:
            return self.spark.createDataFrame([], BATCH_DDL + ", rank int")
        avgdl = float(self.stats["avgdl"])
        live_terms = sorted({t for _, idfs, _ in plans for t in idfs})

        def kernel(rows, allowed) -> pd.DataFrame:
            return batch_frame(wand.topk_slice_batch(rows, plans, avgdl, allowed))

        sliced = self._per_salt(self._candidate_rows(live_terms), kernel,
                                BATCH_DDL, filter_df=filter_df)
        k_map = {qid: k for qid, _, k in plans}
        k_df = self.spark.createDataFrame(
            [(qid, k) for qid, k in k_map.items()], "query_id long, k int"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            sliced.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(k_df), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .drop("k")
        )

    def _local_rows(self, terms: list[str]) -> list["_PostingRow"]:
        """Candidate posting rows read directly with pyarrow (no Spark job):
        bucket-directory pruned, term-filtered, dataset handles cached — the
        shared driver-serving fetch under :meth:`search_local` and
        :meth:`search_conj_local`."""
        import pyarrow.dataset as ds

        buckets = sorted({term_bucket(t, self.stats["num_buckets"]) for t in terms})
        rows: list[_PostingRow] = []
        index_root = Path(self.index_dir) / "index"
        for b in buckets:
            dset = self._bucket_datasets.get(b)
            if dset is None:
                bdir = index_root / f"bucket={b}"
                if not bdir.exists():
                    continue
                dset = self._bucket_datasets[b] = ds.dataset(str(bdir))
            tbl = dset.to_table(filter=ds.field("term").isin(terms))
            if tbl.num_rows:
                rows.extend(_rows_from_arrow(tbl))
        return rows

    def search_conj_local(self, query_text: str, k: int = 10, *,
                          offset: int = 0) -> list[tuple[int, float]]:
        """Driver-serving twin of :meth:`search_conj` — same pyarrow fetch as
        :meth:`search_local`, same block-skipping intersection kernel as the
        distributed path (``conj_slice`` merges multi-salt rows per term), so
        results are rank- and score-identical by construction (pinned)."""
        from solrutils_spark.query.boolean import topk_conj

        terms = sorted(set(query_terms(query_text)))
        if not terms:
            return []
        dfs = self.term_dfs(terms)
        if len([t for t in terms if dfs.get(t)]) < len(terms):
            return []  # MUST semantics: any dead term ⇒ no matches
        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        fetch_k = k + offset
        rows = self._local_rows(terms)
        if not rows:
            return []
        docs, scores = topk_conj(rows, idf_by_term, float(self.stats["avgdl"]),
                                 fetch_k, n_terms=len(terms))
        return [
            (int(docs[i]), float(scores[i]))
            for i in range(offset, min(fetch_k, docs.size))
        ]

    def search_conj_batch(self, queries: list[tuple[int, str, int]]) -> DataFrame:
        """Many conjunctive queries in ONE Spark job — see query/boolean.py."""
        from solrutils_spark.query.boolean import search_conj_batch

        return search_conj_batch(self, queries)

    def search_local(
        self,
        query_text: str,
        k: int = 10,
        *,
        offset: int = 0,
    ) -> list[tuple[int, float]]:
        """Low-latency serving path: SAME on-disk index, SAME WAND kernel,
        but candidate rows are read directly with pyarrow (bucket-directory
        pruned + term-filtered) and scored on the driver — no Spark job.

        Rank-identical to :meth:`search` by construction (shared kernel,
        shared stats); pinned by tests. Use for interactive/point queries —
        the distributed path remains the scale/batch road (a single query's
        candidate postings fit driver memory whenever the query is
        interactive; a query hot enough to break that belongs on the batch
        path).

        Hot path is pandas-free: candidate rows go pyarrow table →
        ``_PostingRow`` records straight into the kernel (the DataFrame
        conversion + traversal measured ~45% of serving latency), and
        per-bucket dataset discovery (a filesystem listing) is cached — the
        on-disk index is immutable after build."""
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        terms = [t for t in terms if dfs.get(t)]
        if not terms:
            return []
        idf_by_term = {t: self.idf(dfs[t]) for t in terms}
        avgdl = float(self.stats["avgdl"])
        fetch_k = k + offset

        rows = self._local_rows(terms)
        if not rows:
            return []
        docs, scores = topk_rows(rows, idf_by_term, avgdl, fetch_k)
        return [
            (int(docs[i]), float(scores[i]))
            for i in range(offset, min(fetch_k, docs.size))
        ]

    def fetch(self, topk: DataFrame, fields: list[str] | None = None) -> DataFrame:
        """J3 — stored-field fetch: broadcast the tiny top-k against docs.

        Uses the lean docs table (no doc_len sidecar join) unless the caller
        asked for doc_len — keeps the fetch plan a single broadcast join."""
        cols = fields or ["repo", "path", "commit", "lang"]
        docs = self.docs if "doc_len" in cols else self.lean_docs
        return (
            docs.join(F.broadcast(topk), "doc_id")
            .select("doc_id", "score", *cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def matching_docs(self, query_text: str) -> DataFrame:
        """All docs containing ≥1 query term (the facet-domain doc set), unscored.

        Salt slices are DISJOINT doc_id ranges and the kernel uniquifies
        within its slice, so the union is already distinct — no extra
        doc_id shuffle after the decode."""
        terms = query_terms(query_text)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long")

        def kernel(rows, _allowed) -> pd.DataFrame:
            return pd.DataFrame({"doc_id": union_doc_ids(rows)})

        return self._per_salt(self._candidate_rows(terms), kernel, "doc_id long")

    def matching_count(self, query_text: str) -> int:
        """numFound for an UNFILTERED scored request (Solr's exact hit count,
        CustomSearchHandler.java:256 ``numFound`` log field).

        - single live term: the global df from the termdf sidecar — no Spark
          job, no decode at all;
        - multi-term: per-slice unique counts (slices are disjoint doc
          ranges) summed on the driver — each task ships ONE long instead of
          its doc_id set, so the union/dedup never shuffles ids.
        """
        terms = query_terms(query_text)
        dfs = self.term_dfs(terms)
        live = [t for t in terms if dfs.get(t)]
        if not live:
            return 0
        if len(live) == 1:
            return int(dfs[live[0]])

        def kernel(rows, _allowed) -> pd.DataFrame:
            return pd.DataFrame({"n": [union_doc_ids(rows).size]})

        counts = self._per_salt(self._candidate_rows(live), kernel, "n long")
        return int(sum(r["n"] for r in counts.collect()))

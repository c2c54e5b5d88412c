"""Exact BM25 top-k over a token-array frame — E5/T2 reference path.

The always-correct DataFrame baseline: the declared BM25 queries of
``__spark_entry__.py`` run on it, and the segment/WAND engine is checked
against the same oracle. The reference gets this from Lucene's BooleanQuery + TopDocs
collector (driven via QueryReRankComponent.java:80, SearchSplitComponent.java:69).

Input is a frame ``(doc_id, toks, …extra cols)``: the caller tokenizes (the
entry with the simple analyzer, the parity tests with the code-aware one),
so analysis is data here, never an option. :func:`exact_index` makes ONE
pass:

  toks.localCheckpoint(eager=True)     ← tokenize once: the stats job and the
                                         scoring pass both read the arrays
  → one agg: n, avgdl, df per term     ← one Spark job for every statistic
                                         the query needs (text terms and
                                         keyword-field values alike)

and :class:`ExactIndex` builds Columns over the token array: term tf and
m-term phrase frequency (higher-order array functions — no explode, no
shuffle), the BM25 contribution, and the ranked top-k:

  toks.filter(domain).select(doc_id, score)
    → row_number() over (score desc, doc_id asc) ≤ k   ← Catalyst turns it
                                         into TakeOrderedAndProject (a heap,
                                         never a full sort)

Scores are float64 with the oracle's arithmetic (idf from
:meth:`CorpusStats.idf`, contributions summed in sorted-term order, an
absent term adds exactly 0.0), so they equal ``OracleIndex`` bit for bit.
Tie-break ``(score desc, doc_id asc)`` is the frozen contract.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce
from operator import add, and_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from solrutils_spark.functions.analyzer import B, K1, analyze
from solrutils_spark.index.stats import CorpusStats

TOKS = "toks"


def query_terms(query_text: str) -> list[str]:
    """Analyzer-normalized, deduplicated, sorted query terms (summation order)."""
    return sorted(set(analyze(query_text)))


def has(term: str) -> Column:
    """The doc's token array contains ``term``."""
    return F.array_contains(TOKS, term)


def tf(term: str) -> Column:
    """Occurrences of ``term`` in the doc's token array."""
    # single-arg lambda (a 2-arg lambda would be read as (element, index))
    return F.size(F.filter(F.col(TOKS), lambda x: x == term))


def phrase_freq(seq: Sequence[str]) -> Column:
    """Exact-phrase frequency: start positions where the token array holds
    ``seq`` in order — overlapping matches count, as in
    ``OracleIndex.search_phrase``. The position probes re-reference the
    token column (PLANS.md §17: an inlined tokenizer here would re-run once
    per probe)."""
    m = len(seq)
    if m == 0:
        return F.lit(0)
    t = F.col(TOKS)

    def at(i: Column) -> Column:
        return reduce(and_, [
            F.element_at(t, i if j == 0 else i + j) == w for j, w in enumerate(seq)
        ])

    return F.when(
        F.size(t) >= m, F.size(F.filter(F.sequence(F.lit(1), F.size(t) - (m - 1)), at))
    ).otherwise(F.lit(0))


def has_phrase(seq: Sequence[str]) -> Column:
    """The doc's token array contains the phrase. The per-term probes come
    first, so docs missing a term skip the positional scan."""
    return reduce(and_, [has(t) for t in sorted(set(seq))], F.lit(True)) & (phrase_freq(seq) > 0)


@dataclass(frozen=True)
class ExactIndex:
    """A checkpointed token frame plus the statistics one query needs."""

    toks: DataFrame
    stats: CorpusStats
    df: dict  # term → df; (column, value) → df for keyword-field clauses

    def idf(self, term) -> float:
        return self.stats.idf(self.df[term])

    def bm25(self, freq: Column, idf: float) -> Column:
        """BM25 contribution ``idf·f/(f + k1·(1−b+b·|d|/avgdl))``; 0.0 where f = 0."""
        avgdl = self.stats.avgdl
        norm = (
            F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.size(F.col(TOKS)) / F.lit(avgdl))
            if avgdl else F.lit(K1)
        )
        return F.lit(idf) * freq / (freq + norm)

    def terms(self, terms: Sequence[str]) -> Column:
        """Σ BM25 over the distinct terms, in sorted-term order like the oracle."""
        parts = [self.bm25(tf(t), self.idf(t)) for t in sorted(set(terms))]
        return reduce(add, parts) if parts else F.lit(0.0)

    def phrase(self, seq: Sequence[str]) -> Column:
        """Lucene PhraseQuery score: tf = phrase frequency, idf = Σ idf over
        the phrase's unique terms (sorted order)."""
        return self.bm25(phrase_freq(seq), sum(self.idf(t) for t in sorted(set(seq))))

    def field(self, col: str, value) -> Column:
        """Keyword-field clause ``col:value``. A single-token field has
        tf = 1 and |d| = avgdl = 1, so BM25 is the constant idf/(1+k1)
        where the doc matches, else 0.0."""
        return F.when(
            F.col(col) == value, F.lit(self.idf((col, value)) / (1.0 + K1))
        ).otherwise(F.lit(0.0))

    def topk(self, score: Column, where: Column, k: int) -> DataFrame:
        """(doc_id, score, rank) of the ``k`` best docs in ``where``. Filters
        select, never score: ``where`` restricts the ranked domain only, the
        statistics stay corpus-wide (P2 semantics)."""
        scored = self.toks.filter(where).select("doc_id", score.alias("score"))
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def exact_index(
    toks: DataFrame, terms: Sequence[str], fields: Sequence[tuple[str, object]] = ()
) -> ExactIndex:
    """Checkpoint ``toks`` and collect n, avgdl and the df of every text
    term and keyword-field ``(column, value)`` the query needs, in one job.

    Without the checkpoint the stats job and the scoring pass would each
    re-run the tokenizer, which is most of the query (round 6: 3.1 → 1.9 s
    at 50k docs). The eager ``localCheckpoint`` holds the arrays
    MEMORY_AND_DISK for the query's lifetime; the ContextCleaner frees the
    blocks when the result goes out of scope, and nothing persists across
    runs."""
    toks = toks.localCheckpoint(eager=True)
    row = toks.agg(
        F.count("*").alias("n"),
        F.avg(F.size(TOKS)).alias("avgdl"),
        *[F.count_if(has(t)) for t in terms],
        *[F.count_if(F.col(c) == v) for c, v in fields],
    ).collect()[0]
    return ExactIndex(
        toks,
        CorpusStats(n_docs=int(row[0]), avgdl=float(row[1] or 0.0)),
        {key: int(row[2 + i]) for i, key in enumerate([*terms, *fields])},
    )

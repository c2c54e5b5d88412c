"""Rank-identical BM25 parity gate (north_rule; SURVEY.md §5.2 item 3).

The library's exact-DataFrame BM25 (query/exact.py — the path the declared
BM25 queries of __spark_entry__.py run on) must match the pure-Python oracle's
docIDs AND scores (atol 1e-9) in rank order over the synthetic corpus, on
code-aware tokens — disjunctive, conjunctive and exact-phrase queries,
including empty-result, stopword-only, hot-term, repeated-term and tie cases.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

import pytest
from pyspark.sql import functions as F

from solrutils_spark.corpus import reference_queries, synth_corpus
from solrutils_spark.functions.analyzer import analyze, analyze_series
from solrutils_spark.index.docs import build_docs
from solrutils_spark.oracle.reference_bm25 import OracleIndex
from solrutils_spark.query.boolean import _phrase_freq
from solrutils_spark.query.exact import exact_index, has, has_phrase, phrase_freq, query_terms

N_DOCS = 400
HOT_REPEAT = 2_000

# identifiers the corpus always writes as one adjacent token run, overlapping
# repeats in the hot-term doc, a cross-identifier pair, absent and stopwords
PHRASE_QUERIES = [
    "parseDateTime", "HTTPServer2x", "mergeSegments", "delta encode",
    "vbyte_decode salt_bucket", "storm hot", "hotTermZipfianStorm hotTermZipfianStorm",
    "term zipfian storm hot term", "posting segment", "zzznonexistenttermzzz parse",
    "the and",
]


@pytest.fixture(scope="module")
def docs(spark):
    d = build_docs(synth_corpus(spark, N_DOCS, hot_repeat=HOT_REPEAT)).persist()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def oracle(docs):
    rows = docs.select("doc_id", "content").collect()
    return OracleIndex([(r["doc_id"], r["content"]) for r in rows])


@pytest.fixture(scope="module")
def index(docs):
    """Code-aware tokens (the engine's analyzer) fed to the exact path,
    with the df of every term any query here needs."""
    code_aware = F.pandas_udf(analyze_series, "array<string>")
    texts = [q for _, q, _ in reference_queries()] + PHRASE_QUERIES
    terms = sorted({t for q in texts for t in analyze(q)})
    return exact_index(docs.select("doc_id", code_aware("content").alias("toks")), terms)


def _ranked(index, score, where, k):
    rows = index.topk(score, where, k).collect()
    return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


def _assert_same(got, expected, label):
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"{label}: docIDs diverge\n got={got}\n exp={expected}"
    )
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"{label} doc {gd}: {gs} vs {es}"


def test_corpus_stats_match(index, oracle):
    assert index.stats.n_docs == oracle.n_docs == N_DOCS
    assert index.stats.avgdl == pytest.approx(oracle.avgdl, abs=1e-9)
    assert index.df == {t: len(oracle.postings.get(t, {})) for t in index.df}


def test_sha256_invariant(docs):
    # per-row invariant: sha256(content) recomputed == stored column
    bad = docs.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
    assert bad == 0


@pytest.mark.parametrize("qid,qtext,k", reference_queries())
def test_rank_identical_topk(index, oracle, qid, qtext, k):
    terms = query_terms(qtext)
    where = reduce(or_, map(has, terms), F.lit(False))
    got = _ranked(index, index.terms(terms), where, k)
    _assert_same(got, oracle.search(qtext, k), f"q{qid} {qtext!r}")


@pytest.mark.parametrize("qid,qtext,k", reference_queries())
def test_rank_identical_conj(index, oracle, qid, qtext, k):
    terms = query_terms(qtext)
    where = reduce(and_, map(has, terms), F.lit(bool(terms)))
    got = _ranked(index, index.terms(terms), where, k)
    _assert_same(got, oracle.search_conj(qtext, k), f"q{qid} AND {qtext!r}")


@pytest.mark.parametrize("qtext", PHRASE_QUERIES)
def test_rank_identical_phrase(index, oracle, qtext):
    seq = analyze(qtext)
    got = _ranked(index, index.phrase(seq), has_phrase(seq), 10)
    expected = oracle.search_phrase(qtext, 10)
    _assert_same(got, expected, f'"{qtext}"')
    if qtext == "hotTermZipfianStorm hotTermZipfianStorm":
        assert expected, "the overlapping repeated-term case must match"


def test_phrase_freq_column_matches_python(spark):
    """The phrase-frequency Column counts overlapping matches exactly like
    query/boolean.py::_phrase_freq, on arrays full of repeats."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "c", "d"])

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.lists(word, max_size=12), max_size=6), st.lists(word, min_size=2, max_size=4))
    def check(arrays, seq):
        # guaranteed hits: back-to-back and overlapping copies of the phrase
        arrays = [*arrays, seq * 2, seq[:-1] + seq, seq[:1] * 5]
        rows = spark.createDataFrame(
            list(enumerate(arrays)), "doc_id long, toks array<string>"
        ).select("doc_id", phrase_freq(seq).alias("pf")).collect()
        got = [r["pf"] for r in sorted(rows, key=lambda r: r["doc_id"])]
        assert got == [_phrase_freq(a, seq) for a in arrays], (arrays, seq)

    check()

"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the ``BASELINE.json`` input_hint table shape::

    corpus(repo: string, path: string, commit: string, lang: string, content: string)

Generation is *counter-based*: every row's content is a pure function of
``(seed, row_id)`` via numpy Philox, so the output is identical regardless of
partitioning or parallelism — the property that makes the local[8] vs
local[32] scaling comparison apples-to-apples, and that would make a
1000-executor generation of 10^12 rows reproducible. Generation runs inside
``mapInPandas`` over ``spark.range`` (distributed, no driver materialization).

Edge rows at fixed row ids (FIXTURES.md §1):
  0 empty content · 1 all-stopword content · 2,3 duplicate content (same
  sha256, distinct doc ids) · 4 hot-term file (single token repeated) ·
  5 unicode-only · rows 6..133 share token ``blockboundaryalpha`` (df=128,
  exactly one VByte block) and 6..134 share ``blockboundarybeta`` (df=129).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 42

LANGS = ["py", "java", "js", "go", "rs"]
LANG_EXT = {"py": "py", "java": "java", "js": "js", "go": "go", "rs": "rs"}
LANG_WEIGHTS = np.array([0.35, 0.2, 0.2, 0.15, 0.1])

# fixed identifier vocabulary mixing the casing styles the analyzer must split
CAMEL = [
    "parseDateTime", "QueryBuilder", "HTTPServer2x", "toSolrDate", "readFile",
    "BulkUpdateHandler", "facetResponse", "blockMaxWand", "deltaEncode",
    "postingList", "scoreTopK", "mergeSegments", "XsltLoader", "JsonDocsWriter",
    "searchModel", "filterQuery", "rerankComponent", "splitComponent",
    "tokenStream", "invertedIndex", "shardRouter", "snapshotReader",
]
SNAKE = [
    "doc_len", "term_freq", "block_max", "avg_doclen", "to_tag_id",
    "parse_time", "apply_filters", "collect_fields", "facet_counts",
    "query_stats", "segment_merge", "vbyte_decode", "salt_bucket",
    "commit_hash", "repo_path", "lineage_row", "resume_token", "skip_data",
]
SCREAMING = ["MAX_ROWS", "DEFAULT_K1", "BM25_B", "BLOCK_SIZE", "UTC_ZONE"]
KEYWORDS = [
    "def", "class", "return", "import", "if", "else", "for", "while",
    "public", "static", "void", "const", "let", "fn", "pub", "use",
]
LITERALS = ['"posting"', "'segment'", '"lucene"', "'solr'", '"%s:%d"', "42", "3.14"]
PUNCT = ["(", ")", "{", "}", "[", "]", "=", "==", "->", ".", ",", ":", ";"]
UNICODE_COMMENTS = ["# поиск по индексу", "// 倒排索引合并", "# übersicht läuft", "// δείκτης"]

_WORDS = CAMEL + SNAKE + SCREAMING + KEYWORDS + LITERALS + PUNCT
_WORD_ARR = np.array(_WORDS, dtype=object)

# Zipfian identifier pool: real code vocabularies grow with the corpus (file-
# local names). Single-token lowercase base-26 stems, 20% wrapped camelCase.
# Drawn with a zipf(1.4) rank distribution → few hot identifiers, long tail —
# the df distribution that makes block-max WAND (and salting) meaningful.
_ID_POOL_SIZE = 50_000


def _b26(j: int) -> str:
    s = []
    j += 26**3  # min length 4 (avoid the len<2 analyzer drop + collisions)
    while j:
        s.append(chr(ord("a") + j % 26))
        j //= 26
    return "".join(reversed(s))


_ID_POOL = np.array(
    [
        f"get{_b26(j).capitalize()}" if j % 5 == 0 else _b26(j)
        for j in range(_ID_POOL_SIZE)
    ],
    dtype=object,
)

ALL_STOPWORD_CONTENT = "the and for with this that import return if else def class"
UNICODE_ONLY_CONTENT = "инвертированный индекс 索引 合并 δοκιμή κώδικα übersicht"
DUP_CONTENT = "def duplicateContentMarker(shared_payload):\n    return shared_payload\n"
HOT_TERM = "hotTermZipfianStorm"


def _content_for(i: int, hot_repeat: int) -> str:
    """Content for global row ``i`` — pure function of (SEED, i)."""
    if i == 0:
        return ""
    if i == 1:
        return ALL_STOPWORD_CONTENT
    if i in (2, 3):
        return DUP_CONTENT
    if i == 4:
        return " ".join([HOT_TERM] * hot_repeat)
    if i == 5:
        return UNICODE_ONLY_CONTENT
    rng = np.random.Generator(np.random.Philox(key=SEED, counter=[0, 0, 0, i]))
    n_lines = int(rng.integers(10, 80))
    words_per_line = rng.integers(3, 10, size=n_lines)
    total = int(words_per_line.sum())
    picks = rng.integers(0, len(_WORD_ARR), size=total)
    words = _WORD_ARR[picks]
    # ~40% of slots become Zipf-ranked identifiers (realistic code vocabulary)
    id_mask = rng.random(total) < 0.4
    n_ids = int(id_mask.sum())
    if n_ids:
        ranks = (rng.zipf(1.4, size=n_ids) - 1) % _ID_POOL_SIZE
        words = words.copy()
        words[id_mask] = _ID_POOL[ranks]
    lines, pos = [], 0
    for w in words_per_line:
        lines.append(" ".join(words[pos : pos + w]))
        pos += int(w)
    if rng.random() < 0.05:
        lines.append(UNICODE_COMMENTS[int(rng.integers(0, len(UNICODE_COMMENTS)))])
    if 6 <= i < 134:
        lines.append("blockBoundaryAlpha marker")
    if 6 <= i < 135:
        lines.append("blockBoundaryBeta marker")
    return "\n".join(lines)


def _rows_pdf(ids: np.ndarray, hot_repeat: int) -> pd.DataFrame:
    rng = np.random.Generator(np.random.Philox(key=SEED + 1, counter=[0, 0, 0, 0]))
    # lang is a pure function of id (hash-mod), not of the rng stream position,
    # so it is partitioning-independent too
    lang_idx = (ids * 2654435761 % 97) % 100
    cum = (np.cumsum(LANG_WEIGHTS) * 100).astype(int)
    langs = np.array(LANGS, dtype=object)[np.searchsorted(cum, lang_idx % cum[-1], side="right")]
    del rng
    contents = [_content_for(int(i), hot_repeat) for i in ids]
    import hashlib

    commits = [hashlib.sha1(f"{SEED}:{int(i)}".encode()).hexdigest() for i in ids]
    return pd.DataFrame(
        {
            "repo": [f"org{int(i) % 7}/repo{int(i) % 53}" for i in ids],
            "path": [
                f"src/pkg{int(i) % 11}/mod{int(i) % 101}_{int(i)}.{LANG_EXT[l]}"
                for i, l in zip(ids, langs)
            ],
            "commit": commits,
            "lang": langs,
            "content": contents,
        }
    )


def synth_corpus(
    spark: SparkSession, n_rows: int, *, hot_repeat: int = 10_000, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus of ``n_rows`` source files."""
    if partitions is None:
        partitions = max(8, min(64, n_rows // 2000 + 1))
    base = spark.range(0, n_rows, numPartitions=partitions)
    schema = "repo string, path string, commit string, lang string, content string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rows_pdf(pdf["id"].to_numpy(), hot_repeat)

    return base.mapInPandas(gen, schema=schema)


def reference_queries() -> list[tuple[int, str, int]]:
    """(query_id, query_text, top_k) — FIXTURES.md §2 reference query set."""
    qs: list[tuple[int, str, int]] = []
    qid = 0

    def add(text: str, k: int = 10) -> None:
        nonlocal qid
        qid += 1
        qs.append((qid, text, k))

    # single rare / mid / hot terms
    for t in ["blockboundaryalpha", "blockboundarybeta", "hotTermZipfianStorm",
              "posting", "segment", "lucene", "wand", "vbyte", "salt"]:
        add(t)
    # conjunctions mixing rare + hot
    add("posting segment")
    add("blockboundaryalpha marker")
    add("vbyte_decode salt_bucket")
    add("parseDateTime QueryBuilder")
    add("delta encode posting list")
    add("query stats facet counts")
    add("snapshot reader shard router")
    # camelCase inputs (must analyze to split tokens)
    add("parseDateTime")
    add("HTTPServer2x")
    add("blockMaxWand")
    add("toSolrDate readFile")
    # absent term → empty result
    add("zzznonexistenttermzzz")
    # stopword-only → empty result
    add("the and for with")
    # mixed absent+present
    add("posting zzznonexistenttermzzz")
    # k variants
    add("posting", 1)
    add("segment", 100)
    add("merge segments token stream", 25)
    # snake_case raw
    add("avg_doclen block_max")
    add("to_tag_id parse_time")
    add("lineage_row resume_token")
    # literals / numbers
    add("42")
    add("3 14")
    # unicode
    add("индекс")
    add("倒排索引合并")
    # longer disjunctions
    add("facet response handler split")
    add("bulk update handler xslt")
    add("json docs writer escape")
    add("inverted index merge salt bucket")
    add("score top posting intersection")
    add("commit hash repo path")
    add("query builder filter query rerank")
    add("max rows default k1")
    add("block size utc zone")
    add("read file token stream")
    add("search model facet counts")
    add("shard router snapshot reader wand")
    add("solr lucene posting")
    add("duplicateContentMarker")
    add("shared_payload")
    add("hotTermZipfianStorm posting", 5)
    return qs

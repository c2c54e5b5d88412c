"""Seeded inputs for the benchmark: corpus, query streams, batch sets, requests.

Everything here is a pure function of ``--seed``; the engine receives only
what these functions return. The corpus has the engine's input shape,
``(repo, path, commit, lang, content)``, with zipf(1.4)-ranked identifiers and
one very long hot-term document, but its own vocabulary and seed, so the
benchmark inputs do not move when ``solrutils_spark/corpus.py`` changes.

Query terms are drawn by document-frequency band from the corpus' own
postings (the oracle's, which equal the built index's ``termdf``; the point
check would fail otherwise).

The repository holds no query log, so the shares of the point mix below are
assumptions, not measured traffic: what is given is 1–5 terms per query,
k ∈ {10, 100}, "most" queries disjunctive and repeats "zipf-wise"; the
conjunctive share, the k=100 share, the df-band weights and the repeat
exponent are chosen values. ``FIXTURES.md``'s reference query set (1–4 terms,
rare/hot/mixed) names the kinds but gives no shares.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

LANGS = ["py", "java", "js", "go", "rs"]
LANG_WEIGHTS = [0.35, 0.2, 0.2, 0.15, 0.1]

WORDS = [
    "parseConfig", "RequestRouter", "HTTPClient2x", "toIsoDate", "loadFile",
    "BatchWriter", "renderFacet", "blockMaxScore", "deltaDecode", "postingCursor",
    "topKHeap", "mergeRuns", "XmlReader", "JsonEmitter", "queryModel",
    "filterCache", "rerankStage", "splitShard", "tokenFilter", "termIndex",
    "row_count", "term_weight", "block_size", "avg_len", "tag_id", "parse_ts",
    "apply_rules", "collect_rows", "facet_limit", "query_log", "merge_policy",
    "varint_read", "salt_slot", "commit_id", "repo_root", "resume_at",
    "MAX_DOCS", "DEFAULT_B", "K1_VALUE", "PAGE_SIZE", "UTC_OFFSET",
    "def", "class", "return", "import", "if", "else", "for", "while", "public",
    "static", "void", "const", "let", "fn", "pub", "use",
    '"cursor"', "'shard'", '"index"', "'score'", "42", "2.5",
    "(", ")", "{", "}", "=", "==", "->", ".", ",", ":", ";",
]
HOT_TERM = "stormHotTerm"
ID_POOL_SIZE = 20_000
# assumed traffic shares (see the module docstring)
CONJ_SHARE = 0.15  # point queries that are conjunctive (q.op=AND)
K100_SHARE = 0.3  # queries with k=100 rather than k=10
BAND_WEIGHTS = [0.4, 0.4, 0.2]  # a disjunctive term is rare / mid / hot
REPEAT_EXPONENT = 0.7  # pool rank r repeats with weight (r + 1) ** -exponent


def _stem(j: int) -> str:
    s, j = [], j + 26**3  # at least four letters, never an analyzer drop
    while j:
        s.append(chr(ord("a") + j % 26))
        j //= 26
    return "".join(reversed(s))


_ID_POOL = np.array(
    [f"get{_stem(j).capitalize()}" if j % 5 == 0 else _stem(j)
     for j in range(ID_POOL_SIZE)],
    dtype=object,
)
_WORD_ARR = np.array(WORDS, dtype=object)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def make_corpus(seed: int, n_docs: int, hot_repeat: int = 3000) -> list[dict]:
    """``n_docs`` source files; row 0 is the long hot-term document.

    Each (repo, path) is unique, so the engine's unique-key upsert keeps
    every row and the source row order maps one-to-one onto ``doc_id``.
    """
    rng = _rng(seed, 1)
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    rows = []
    for i in range(n_docs):
        if i == 0:
            content = " ".join([HOT_TERM] * hot_repeat)
        else:
            per_line = rng.integers(3, 10, size=int(rng.integers(8, 60)))
            total = int(per_line.sum())
            words = _WORD_ARR[rng.integers(0, len(WORDS), size=total)]
            ids = rng.random(total) < 0.4
            if ids.any():
                ranks = (rng.zipf(1.4, size=int(ids.sum())) - 1) % ID_POOL_SIZE
                words[ids] = _ID_POOL[ranks]
            if rng.random() < 0.2:
                words[int(rng.integers(0, total))] = HOT_TERM
            lines, pos = [], 0
            for w in per_line:
                lines.append(" ".join(words[pos:pos + int(w)]))
                pos += int(w)
            content = "\n".join(lines)
        lang = LANGS[int(lang_idx[i])]
        rows.append({
            "repo": f"org{i % 5}/repo{i % 17}",
            "path": f"src/pkg{i % 13}/file_{i}.{lang}",
            "commit": hashlib.sha1(f"{seed}:{i}".encode()).hexdigest(),
            "lang": lang,
            "content": content,
        })
    return rows


@dataclass
class Query:
    text: str
    k: int
    conj: bool = False


@dataclass
class Bands:
    """Corpus vocabulary split by document frequency."""

    rare: list[str]
    mid: list[str]
    hot: list[str]
    doc_terms: list[list[str]] = field(repr=False)
    doc_tokens: list[list[str]] = field(repr=False)

    @classmethod
    def from_oracle(cls, oracle) -> "Bands":
        n = max(1, oracle.n_docs)
        by_df = sorted(oracle.postings, key=lambda t: (len(oracle.postings[t]), t))
        rare = [t for t in by_df if len(oracle.postings[t]) <= 2]
        hot = [t for t in by_df if len(oracle.postings[t]) >= 0.05 * n]
        mid = [t for t in by_df if 2 < len(oracle.postings[t]) < 0.05 * n]
        docs = [oracle.tokens[d] for d in sorted(oracle.tokens)]
        doc_terms = [sorted(set(toks)) for toks in docs]
        return cls(rare, mid, hot, [t for t in doc_terms if len(t) >= 3],
                   [toks for toks in docs if len(set(toks)) >= 3])


def _disjunctive(rng: np.random.Generator, bands: Bands) -> str:
    terms = []
    for _ in range(int(rng.integers(1, 6))):
        band = [bands.rare, bands.mid, bands.hot][
            int(rng.choice(3, p=BAND_WEIGHTS))]
        terms.append(band[int(rng.integers(0, len(band)))])
    return " ".join(terms)


def _conjunctive(rng: np.random.Generator, bands: Bands) -> str:
    # terms of one document, so the intersection is never empty
    terms = bands.doc_terms[int(rng.integers(0, len(bands.doc_terms)))]
    picks = rng.choice(len(terms), size=int(rng.integers(2, 4)), replace=False)
    return " ".join(terms[int(p)] for p in picks)


def query_pool(seed: int, bands: Bands, size: int, stream: int,
               conj_share: float = CONJ_SHARE) -> list[Query]:
    rng = _rng(seed, stream)
    pool, seen = [], set()
    while len(pool) < size:
        conj = bool(rng.random() < conj_share)
        text = _conjunctive(rng, bands) if conj else _disjunctive(rng, bands)
        k = 100 if rng.random() < K100_SHARE else 10
        if (text, k, conj) not in seen:
            seen.add((text, k, conj))
            pool.append(Query(text, k, conj))
    return pool


def point_stream(seed: int, bands: Bands, pool_size: int = 1000,
                 length: int = 100_000,
                 exponent: float = REPEAT_EXPONENT) -> list[Query]:
    """Stream over a pool of distinct point queries; rank ``r`` repeats with
    weight ``(r + 1) ** -exponent``. The flat head keeps any one query from
    setting the median, and repeats still make df lookups hit and miss."""
    pool = query_pool(seed, bands, pool_size, stream=2)
    rng = _rng(seed, 3)
    weights = np.arange(1, pool_size + 1, dtype=float) ** -exponent
    ranks = rng.choice(pool_size, size=length, p=weights / weights.sum())
    order = rng.permutation(pool_size)
    return [pool[int(order[r])] for r in ranks]


def repeated_term_share(stream: list[Query], analyze,
                        before: list[Query] = ()) -> float:
    """Share of query-term occurrences in ``stream`` already seen earlier in
    it or in ``before``."""
    seen = {t for q in before for t in analyze(q.text)}
    total = repeats = 0
    for q in stream:
        for t in set(analyze(q.text)):
            total += 1
            repeats += t in seen
            seen.add(t)
    return repeats / total if total else 0.0


def batch_sets(seed: int, bands: Bands, size: int) -> dict[str, list[tuple[int, str, int]]]:
    """One fixed query set per batch call kind, as (query_id, text, k)."""
    out = {}
    for stream, (kind, conj) in enumerate(
            [("search_batch", 0.0), ("search_batch_filtered", 0.0),
             ("search_conj_batch", 1.0)], start=10):
        pool = query_pool(seed, bands, size, stream, conj_share=conj)
        out[kind] = [(i, q.text, q.k) for i, q in enumerate(pool)]
    return out


#: the ~1/3 filter persisted for the filtered batch kind (SQL over docs)
BATCH_FILTER = "pmod(xxhash64(path), 3) = 0"

#: the request model: JSON query keys → operators (plans/operators.py)
REQUEST_MODEL = {
    "query": {"op": "q", "body": "${value}"},
    "filter": {"op": "fq", "strict": False, "filters": {
        "lang": {"body": "lang = '${value}'"},
        "repo": {"body": "repo = '${value}'"},
        "longer": {"body": "doc_len > ${value:int}"},
    }},
    "rows": {"op": "set", "name": "rows", "body": "${value:int}"},
    "start": {"op": "set", "name": "start", "body": "${value:int}"},
    "fl": {"op": "set", "name": "fl", "body": "${value}"},
    "sortBy": {"op": "sortBy", "map": {"size": "doc_len desc,doc_id asc",
                                       "path": "path asc"}},
    "facet": {"op": "facet", "facets": {
        "lang": {"type": "field", "body": "{!key=${key}}lang"},
        "repos": {"type": "json",
                  "body": '"${key}": {"type":"terms","field":"repo","limit":5}'},
    }},
}

#: the request kinds, one of each per mix cycle, in this order
REQUEST_KINDS = ["scored_fq_facets", "boolean_phrase", "unscored_sort_page"]

#: PlanExecutor filterCache capacity. One entry makes every mix cycle both
#: hit and evict (see :func:`request_stream`); the program's default of 32
#: would need more than 32 scored requests in a run before anything evicts.
FILTER_CACHE_SIZE = 1
FQ_POOL_SIZE = 6


def fq_pool(seed: int, doc_len_p50: int) -> list[dict]:
    """Distinct fq sets (model ``filter`` values), more than the cache holds."""
    rng = _rng(seed, 20)
    pool, seen = [], set()
    while len(pool) < FQ_POOL_SIZE:
        f = {"lang": LANGS[int(rng.integers(0, len(LANGS)))]}
        r = rng.random()
        if r < 0.3:
            f["repo"] = f"org{int(rng.integers(0, 5))}/repo{int(rng.integers(0, 17))}"
        elif r < 0.6:
            f["longer"] = int(doc_len_p50 * rng.uniform(0.3, 1.0))
        key = tuple(sorted(f.items()))
        if key not in seen:
            seen.add(key)
            pool.append(f)
    return pool


def fq_sql(f: dict) -> list[str]:
    """The SQL fq bodies a ``filter`` value renders to (for the checks)."""
    out = []
    if "lang" in f:
        out.append(f"lang = '{f['lang']}'")
    if "repo" in f:
        out.append(f"repo = '{f['repo']}'")
    if "longer" in f:
        out.append(f"doc_len > {int(f['longer'])}")
    return out


def request_stream(seed: int, bands: Bands, doc_len_p50: int,
                   cycles: int = 200) -> list[tuple[str, dict]]:
    """(kind, JSON request) cycling through :data:`REQUEST_KINDS`.

    Every cycle has the same shape, so runs of different seeds do the same
    kind of work: the scored query is one mid-band and one hot term, and the
    fq sets rotate through the pool in a fixed pattern: cycle ``c`` uses
    sets ``fa = c`` and ``fb = c + 3``. The two scored requests of a cycle
    (the term query with a field and a json facet, then the boolean query)
    filter by fa, so a one-entry filterCache misses on fa and evicts the set
    it held (the previous cycle's fa, or :func:`warm_request`'s), then hits
    on fa; the unscored request filters by fb and bypasses the cache. A run
    of one cycle therefore takes every cache path, and every cycle has the
    same hit share, 1/2."""
    rng = _rng(seed, 21)
    fqs = fq_pool(seed, doc_len_p50)

    def scored_q() -> str:
        return (f"{bands.mid[int(rng.integers(0, len(bands.mid)))]} "
                f"{bands.hot[int(rng.integers(0, len(bands.hot)))]}")

    out = []
    for c in range(cycles):
        fa, fb = fqs[c % len(fqs)], fqs[(c + 3) % len(fqs)]
        for kind in REQUEST_KINDS:
            if kind == "scored_fq_facets":
                req = {"query": scored_q(), "filter": fa, "facet": ["lang", "repos"],
                       "rows": 10}
            elif kind == "boolean_phrase":
                # a phrase that occurs in one document, plus a MUST term of it
                toks = bands.doc_tokens[int(rng.integers(0, len(bands.doc_tokens)))]
                i = int(rng.integers(0, len(toks) - 1))
                must = toks[int(rng.integers(0, len(toks)))]
                req = {"query": f'+{must} +"{toks[i]} {toks[i + 1]}"',
                       "filter": fa, "rows": 10}
            else:
                req = {"filter": fb, "facet": ["lang"],
                       "sortBy": "size" if rng.random() < 0.5 else "path",
                       "rows": 10, "start": int(rng.integers(0, 3)) * 10,
                       "fl": "doc_id,path,doc_len"}
            out.append((kind, req))
    return out


def warm_request(seed: int, bands: Bands, doc_len_p50: int) -> dict:
    """A scored request whose fq set no first cycle uses: the first scored
    request of the timed loop then evicts it."""
    return {"query": bands.hot[0], "filter": fq_pool(seed, doc_len_p50)[-1],
            "rows": 10}


def fq_reuse_ratio(stream: list[tuple[str, dict]], capacity: int) -> float:
    """Share of scored fq sets found among the last ``capacity`` distinct
    ones (the filterCache hit ratio an LRU of that size would see)."""
    lru: list[tuple] = []
    hits = total = 0
    for kind, req in stream:
        if "query" not in req:  # unscored requests bypass the filterCache
            continue
        key = tuple(sorted(fq_sql(req["filter"])))
        total += 1
        if key in lru:
            hits += 1
            lru.remove(key)
        lru.append(key)
        del lru[:-capacity]
    return hits / total if total else 0.0

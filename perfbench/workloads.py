"""The timed workloads, each a closed loop with one client.

A workload turns the seeded inputs into engine calls (``op``), records every
answer, and checks every answer after the timed loop (``check``). An
exception inside an operation counts as a failed operation, never a skipped
one.

- ``point``: ``search_local`` / ``search_conj_local``; answers against the
  pure-Python ``OracleIndex``.
- ``spark``: a mix cycle of batch calls and Layer-B requests.

  - batch: ``search_batch`` (plain and with a persisted filter) and
    ``search_conj_batch``, one Spark job per call; answers against the same
    queries through ``search_local`` / ``search_conj_local``.
  - request: Layer-B JSON requests through ``PlanExecutor.search``; hits
    against ``IndexReader.search`` / ``execute_boolean`` under the same
    filter, numFound against the oracle's matches within the filtered docs
    table.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from perfbench import inputs

SCORE_TOL = 1e-9


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """doc_ids rank for rank, scores within :data:`SCORE_TOL`."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want))


def same_ranking_up_to_ties(got: list[tuple[int, float]], want: list[tuple[int, float]],
                            scores: dict[int, float]) -> bool:
    """:func:`same_ranking`, except that docs whose oracle scores agree within
    :data:`SCORE_TOL` may come in either order.

    The oracle sums term contributions left to right in sorted-term order, so
    two docs with the same contributions in another term order (an exact tie)
    can differ by an ulp there and be ranked apart. An answer passes when its
    scores match ``want`` rank for rank, each doc's score matches that doc's
    oracle score (``scores``: engine doc_id → oracle score), and no doc repeats.
    """
    return (len(got) == len(want) and len({d for d, _ in got}) == len(got)
            and all(abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want))
            and all(d in scores and abs(s - scores[d]) <= SCORE_TOL for d, s in got))


class Oracle:
    """``OracleIndex`` answers, with source row ids mapped to engine doc_ids."""

    def __init__(self, index, analyze):
        self.index = index
        self.analyze = analyze
        self.to_engine: dict[int, int] = {}
        self._memo: dict = {}

    def _mapped(self, ranked) -> list[tuple[int, float]]:
        out = [(self.to_engine[d], s) for d, s in ranked]
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    def ranking(self, text: str, conj: bool) -> list[tuple[int, float]]:
        """The full ranking, ties broken by engine doc_id."""
        key = (text, conj)
        if key not in self._memo:
            n = self.index.n_docs
            ranked = (self.index.search_conj(text, n) if conj
                      else self.index.search(text, n))
            self._memo[key] = self._mapped(ranked)
        return self._memo[key]

    def scores(self, text: str, conj: bool) -> dict[int, float]:
        """Engine doc_id → oracle score, over every matching doc."""
        key = ("scores", text, conj)
        if key not in self._memo:
            self._memo[key] = dict(self.ranking(text, conj))
        return self._memo[key]

    def matches(self, text: str) -> set[int]:
        """Engine ids of docs holding at least one analyzed term of ``text``."""
        out: set[int] = set()
        for t in set(self.analyze(text)):
            out.update(self.to_engine[d] for d in self.index.postings.get(t, {}))
        return out

    def boolean_matches(self, must: str, phrase: str) -> set[int]:
        """Engine ids matching ``+must +"phrase"``."""
        terms = self.analyze(must)
        docs = set(self.index.postings.get(terms[0], {})) if terms else set()
        hits = {d for d, _ in self.index.search_phrase(phrase, self.index.n_docs)}
        return {self.to_engine[d] for d in docs & hits}


class Point:
    name = "point"
    kinds = ["search_local", "search_conj_local"]
    period = 1
    min_blocks = 1

    #: the stream's first queries warm the reader's df cache, so the timed
    #: loop starts where misses have settled to the stream's own rate
    WARM_QUERIES = 100

    def __init__(self, ctx):
        self.ctx = ctx
        stream = inputs.point_stream(ctx.seed, ctx.bands)
        self.warm_queries = stream[:self.WARM_QUERIES]
        self.stream = stream[self.WARM_QUERIES:]

    def properties(self, n_ops: int) -> dict:
        """Input properties of the first ``n_ops`` operations (those run)."""
        head = self.stream[:max(1, n_ops)]
        return {
            "queries": len(head),
            "distinct_queries": len({(q.text, q.k, q.conj) for q in head}),
            "conj_share": round(sum(q.conj for q in head) / len(head), 3),
            "repeated_term_share": round(inputs.repeated_term_share(
                head, self.ctx.analyze, self.warm_queries), 3),
        }

    def prepare(self, reader):
        return {"reader": reader}

    def warm(self, state) -> None:
        for q in self.warm_queries:
            self._call(state["reader"], q)

    @staticmethod
    def _call(reader, q):
        if q.conj:
            return reader.search_conj_local(q.text, q.k)
        return reader.search_local(q.text, q.k)

    def op(self, state, i: int):
        q = self.stream[i % len(self.stream)]
        return self.kinds[q.conj], (i % len(self.stream), self._call(state["reader"], q)), 1

    def corrupt(self, answers: list) -> None:
        i, res = answers[0]
        answers[0] = (i, [(d + 1, s) for d, s in res] or [(0, 1.0)])

    def check(self, state, answers: list) -> list[bool]:
        ok = []
        for i, res in answers:
            q = self.stream[i]
            want = self.ctx.oracle.ranking(q.text, q.conj)[:q.k]
            good = same_ranking_up_to_ties(
                res, want, self.ctx.oracle.scores(q.text, q.conj))
            if not good:
                r = next((r for r, (g, w) in enumerate(zip(res, want))
                          if not same_ranking([g], [w])), min(len(res), len(want)))
                log(f"point op {i} {q}: differs from the oracle at rank {r}: "
                    f"got {res[r:r + 2]}, want {want[r:r + 2]}")
            ok.append(good)
        return ok


class Batch:
    kinds = ["search_batch", "search_batch_filtered", "search_conj_batch"]
    period = 3

    def __init__(self, ctx, size: int):
        self.ctx = ctx
        self.sets = inputs.batch_sets(ctx.seed, ctx.bands, size)

    def properties(self, n_ops: int) -> dict:
        return {"queries_per_call": len(self.sets["search_batch"]),
                "filter": inputs.BATCH_FILTER}

    def prepare(self, reader):
        allowed = reader.docs.filter(F.expr(inputs.BATCH_FILTER)).select("doc_id")
        allowed = allowed.persist()
        allowed.count()
        return {"reader": reader, "filter": allowed}

    def _run(self, state, kind: str, queries):
        reader = state["reader"]
        if kind == "search_batch":
            df = reader.search_batch(queries)
        elif kind == "search_batch_filtered":
            df = reader.search_batch(queries, filter_df=state["filter"])
        else:
            df = reader.search_conj_batch(queries)
        tracer = self.ctx.tracer
        if tracer is not None and tracer.enabled:
            tracer.open("collect")
        try:
            rows = df.collect()
        finally:
            if tracer is not None and tracer.enabled:
                tracer.close()
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"])))
        return out

    def warm(self, state) -> None:
        # the first call in a new JVM costs twice a steady one; the filtered
        # and conjunctive calls, which follow it, cost no more than steady
        self._run(state, "search_batch", self.sets["search_batch"][:10])

    def op(self, state, i: int):
        kind = self.kinds[i % 3]
        return kind, (kind, self._run(state, kind, self.sets[kind])), len(self.sets[kind])

    def corrupt(self, answers: list) -> None:
        kind, res = answers[0]
        qid = next(iter(res), 0)
        answers[0] = (kind, {**res, qid: res.get(qid, [])[1:] or [(0, 1.0)]})

    def check(self, state, answers: list) -> list[bool]:
        reader = state["reader"]
        n = int(reader.stats["n_docs"])
        allowed = {int(r["doc_id"]) for r in state["filter"].collect()}
        want: dict[str, dict] = {}
        for kind, queries in self.sets.items():
            exp = {}
            for qid, text, k in queries:
                if kind == "search_conj_batch":
                    exp[qid] = reader.search_conj_local(text, k)
                elif kind == "search_batch":
                    exp[qid] = reader.search_local(text, k)
                else:
                    full = reader.search_local(text, n)
                    exp[qid] = [x for x in full if x[0] in allowed][:k]
            want[kind] = {q: r for q, r in exp.items() if r}
        ok = []
        for kind, res in answers:
            bad = sorted(set(res) ^ set(want[kind])) + [
                q for q in res if q in want[kind] and not same_ranking(res[q], want[kind][q])]
            if bad:
                log(f"{kind}: queries {bad[:5]} differ from the local path")
            ok.append(not bad)
        return ok


class Request:
    kinds = ["request"]
    period = len(inputs.REQUEST_KINDS)

    def __init__(self, ctx):
        from solrutils_spark.plans.model import SearchModel

        self.ctx = ctx
        self.stream = inputs.request_stream(ctx.seed, ctx.bands, ctx.doc_len_p50)
        self.model = SearchModel(inputs.REQUEST_MODEL)
        self.warm_request = inputs.warm_request(ctx.seed, ctx.bands, ctx.doc_len_p50)

    def properties(self, n_ops: int) -> dict:
        ran = self.stream[:max(1, n_ops)]
        fqs = {json.dumps(r.get("filter"), sort_keys=True) for _, r in ran}
        return {
            "kinds_per_cycle": inputs.REQUEST_KINDS,
            "requests": len(ran),
            "distinct_fq_sets": len(fqs),
            "filter_cache_size": inputs.FILTER_CACHE_SIZE,
            "fq_reuse_ratio":
                round(inputs.fq_reuse_ratio(ran, inputs.FILTER_CACHE_SIZE), 3),
        }

    def prepare(self, reader):
        from solrutils_spark.operators.executor import PlanExecutor

        ex = PlanExecutor(reader.docs, reader,
                          filter_cache_size=inputs.FILTER_CACHE_SIZE)
        return {"reader": reader, "executor": ex}

    def warm(self, state) -> None:
        state["executor"].search(self.model, json.loads(json.dumps(self.warm_request)))

    def op(self, state, i: int):
        kind, req = self.stream[i % len(self.stream)]
        rsp = state["executor"].search(self.model, json.loads(json.dumps(req)))
        body = rsp["response"]
        docs = [(int(d["doc_id"]), float(d.get("score", 0.0))) for d in body["docs"]]
        facet = rsp.get("facets", {}).get("lang")
        lang_total = sum(b["count"] for b in facet["buckets"]) if facet else None
        return "request", (i % len(self.stream), docs, int(body["numFound"]), lang_total), 1

    def corrupt(self, answers: list) -> None:
        i, docs, nf, lt = answers[0]
        answers[0] = (i, docs, nf + 1, lt)

    def _domain(self, reader, f: dict):
        dom = reader.docs
        for fq in inputs.fq_sql(f):
            dom = dom.filter(F.expr(fq))
        return dom

    def _expected(self, state, i: int):
        from solrutils_spark.query.qparser import execute_boolean

        reader = state["reader"]
        kind, req = self.stream[i]
        dom = self._domain(reader, req["filter"])
        ids = state.setdefault("domains", {})
        fkey = json.dumps(req["filter"], sort_keys=True)
        if fkey not in ids:
            ids[fkey] = {int(r["doc_id"]) for r in dom.select("doc_id").collect()}
        dom_ids = ids[fkey]
        rows, start = int(req.get("rows", 10)), int(req.get("start", 0))
        q = req.get("query")
        if kind == "unscored_sort_page":
            sort = inputs.REQUEST_MODEL["sortBy"]["map"][req["sortBy"]]
            cols = []
            for part in sort.split(","):
                col, direction = part.strip().rsplit(" ", 1)
                cols.append(F.col(col).desc() if direction == "desc" else F.col(col).asc())
            hits = dom.orderBy(*cols).offset(start).limit(rows).select("doc_id").collect()
            return [(int(r["doc_id"]), 0.0) for r in hits], len(dom_ids)
        if kind == "boolean_phrase":
            must, phrase = q.split(" ", 1)
            top = execute_boolean(reader, q, rows, filter_df=dom.select("doc_id"))
            found = self.ctx.oracle.boolean_matches(must[1:], phrase.strip('+"'))
        else:
            top = reader.search(q, rows, filter_df=dom.select("doc_id"))
            found = self.ctx.oracle.matches(q)
        hits = [(int(r["doc_id"]), float(r["score"])) for r in top.collect()]
        return hits, len(found & dom_ids)

    def check(self, state, answers: list) -> list[bool]:
        ok = []
        memo: dict[int, tuple] = {}
        for i, docs, num_found, lang_total in answers:
            if i not in memo:
                memo[i] = self._expected(state, i)
            hits, want_found = memo[i]
            good = same_ranking(docs, hits) and num_found == want_found
            if lang_total is not None:
                good = good and lang_total == num_found
            if not good:
                log(f"request {self.stream[i]}: got {docs} numFound={num_found} "
                    f"lang_total={lang_total}; want {hits} numFound={want_found}")
            ok.append(good)
        return ok


class SparkMix:
    """One mix cycle = the three batch call kinds, then the three request
    kinds: every operation launches Spark jobs."""

    name = "spark"
    kinds = Batch.kinds + Request.kinds
    #: two cycles give latency_p50_ms two samples even when one cycle
    #: outlasts ``--seconds``
    min_blocks = 2

    def __init__(self, ctx, batch_size: int):
        self.batch = Batch(ctx, batch_size)
        self.request = Request(ctx)
        self.period = Batch.period + Request.period

    def properties(self, n_ops: int) -> dict:
        n_requests = sum(j >= Batch.period for j in
                         (i % self.period for i in range(n_ops)))
        return {**self.batch.properties(n_ops), **self.request.properties(n_requests)}

    def prepare(self, reader):
        return {**self.batch.prepare(reader), **self.request.prepare(reader)}

    def warm(self, state) -> None:
        self.batch.warm(state)
        self.request.warm(state)

    def request_index(self, i: int) -> int:
        """Index into ``self.request.stream`` of request op ``i``."""
        cycle, j = divmod(i, self.period)
        return cycle * Request.period + j - Batch.period

    def op(self, state, i: int):
        cycle, j = divmod(i, self.period)
        if j < Batch.period:
            kind, answer, units = self.batch.op(state, cycle * Batch.period + j)
            return kind, ("batch", answer), units
        kind, answer, units = self.request.op(state, self.request_index(i))
        return kind, ("request", answer), units

    def corrupt(self, answers: list) -> None:
        part, answer = answers[0]
        fixed = [answer]
        (self.batch if part == "batch" else self.request).corrupt(fixed)
        answers[0] = (part, fixed[0])

    def check(self, state, answers: list) -> list[bool]:
        return (self.batch.check(state, [a for p, a in answers if p == "batch"])
                + self.request.check(state, [a for p, a in answers if p == "request"]))


def make(name: str, ctx, batch_size: int):
    if name == "point":
        return Point(ctx)
    return SparkMix(ctx, batch_size)

"""Engine benchmark: seeded workloads, checked answers, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload point --seed 1 --seconds 20 --trace 0

Workloads: ``point`` and ``spark`` (see ``perfbench/workloads.py``).
Each run generates its corpus and query streams from ``--seed`` and sets the
engine up once, cold: a fresh JVM through ``get_spark`` → ``build_index``
into a fresh directory → ``IndexReader`` → ``cache_for_serving`` → the
workload's persisted filter or executor (``setup_s``). A short warm-up,
timed apart from ``setup_s``, follows, and the loop runs the workload for
``--seconds``, in whole operations (``point``) or at least two whole mix
cycles (``spark``). Every answer is then checked. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.

``--trace 1`` is a separate run: Spark writes its event log, and alternate
operations (whole mix cycles) run with span-recording wrappers around the
engine's calls, so the traced and untraced medians of one run give the
tracing overhead. Raw numbers, host facts and the per-layer table go to
``perfbench/out/``; scratch data lives under ``perfbench/.work/`` and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

N_DOCS = 1200
BATCH_QUERIES = 50
SEGMENT_SIZE = 128
NUM_SALTS = 4
NUM_BUCKETS = 16
RUN_LIMIT_S = 140  # leaves time to stop Spark within the 180 s a run may take

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "build_docs_per_s": "1/s",
    "index_size_ratio": "ratio",
    "memory_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["point", "spark"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=N_DOCS,
                    help="corpus size (the self-test runs a tiny one)")
    ap.add_argument("--batch-queries", type=int, default=BATCH_QUERIES)
    ap.add_argument("--corrupt", action="store_true",
                    help="alter the first recorded answer before the checks "
                         "(self-test of the answer checks)")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    """What the workloads share: seed, inputs, oracle, optional tracer."""

    def __init__(self, seed: int, oracle, bands, analyze, doc_len_p50: int):
        self.seed = seed
        self.oracle = oracle
        self.bands = bands
        self.analyze = analyze
        self.doc_len_p50 = doc_len_p50
        self.tracer = None


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "solrutils_spark" / "__init__.py").is_file():
        log(f"engine package solrutils_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import system

    system.arm_deadline(RUN_LIMIT_S)
    work = HERE / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = HERE / "out"
    live: dict = {}  # the running SparkSession, stopped whatever happens
    try:
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        out_dir.mkdir(exist_ok=True)
        result, raw = run(args, work, live)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}"
        (out_dir / f"{stem}.json").write_text(json.dumps(raw, indent=1, default=str))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        system.stop_spark(live.get("spark"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: Path, live: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import inputs, system, workloads
    from solrutils_spark.functions.analyzer import analyze
    from solrutils_spark.oracle.reference_bm25 import OracleIndex

    facts = system.host_facts(work)
    log(f"host {facts}")

    # inputs and oracle (untimed)
    rows = inputs.make_corpus(args.seed, args.docs)
    corpus_path = work / "corpus.parquet"
    pq.write_table(pa.Table.from_pylist(rows), corpus_path)
    content_bytes = sum(len(r["content"].encode()) for r in rows)
    oracle_index = OracleIndex([(i, r["content"]) for i, r in enumerate(rows)])
    oracle = workloads.Oracle(oracle_index, analyze)
    ctx = Context(args.seed, oracle, inputs.Bands.from_oracle(oracle_index), analyze,
                  int(statistics.median(oracle_index.doc_len.values())))
    wl = workloads.make(args.workload, ctx, args.batch_queries)

    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
    }
    events = work / "events"
    if args.trace:
        events.mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events.as_uri(),
                     "spark.eventLog.compress": "false"})
    tracer = make_tracer() if args.trace else None
    ctx.tracer = tracer

    from solrutils_spark import session
    import solrutils_spark.index.builder as builder
    from solrutils_spark.query.engine import IndexReader

    cores = system.cores()
    # what the benchmark itself holds (inputs, oracle) is not the engine's
    rss_baseline = system.reset_peak_rss()
    if tracer is not None:
        tracer.op = -2
        tracer.enable()
    # the set-up: a cold start, with a new JVM, as a user pays it
    t0 = time.perf_counter()
    # 4× cores is the shuffle partition count get_spark documents and
    # bench.py passes (get_spark's own default assumes 32 cores)
    spark = session.get_spark(app_name="perfbench", master=f"local[{cores}]",
                              shuffle_partitions=4 * cores, extra_conf=conf)
    live["spark"] = spark
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        spark.sparkContext.setJobGroup("setup", "setup")
    corpus = spark.read.parquet(str(corpus_path))
    tb = time.perf_counter()
    index_dir = work / "index"
    stats = builder.build_index(corpus, str(index_dir), segment_size=SEGMENT_SIZE,
                                num_salts=NUM_SALTS, num_buckets=NUM_BUCKETS,
                                resume=False)
    build_s = time.perf_counter() - tb
    reader = IndexReader(spark, str(index_dir)).cache_for_serving()
    state = wl.prepare(reader)
    setup_s = time.perf_counter() - t0
    tw = time.perf_counter()
    wl.warm(state)
    phases = {"spark_s": tb - t0, "build_s": build_s,
              "serve_s": setup_s - (tb - t0) - build_s,
              "warm_s": time.perf_counter() - tw}
    if tracer is not None:
        tracer.disable()
    build_ok = check_build(index_dir, stats, rows, oracle_index)
    log(f"setup: {setup_s:.2f} s ("
        + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()) + ")")
    oracle.to_engine = engine_ids(index_dir, rows)

    # CPU each process used during the loop: contention shows as JVM or
    # worker CPU while the driver serves driver-local queries
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    groups = {"driver": [os.getpid()],
              "jvm": [jvm.pid] if jvm is not None else [],
              "workers": system.descendants(jvm.pid) if jvm is not None else []}
    cpu0 = {k: system.cpu_s(v) for k, v in groups.items()}
    steal0, t0 = system.host_steal_s(), time.perf_counter()
    ops, answers = measure(args, wl, state, spark, tracer)
    loop_cpu = {k: system.cpu_s(v) - cpu0[k] for k, v in groups.items()}
    loop_cpu["host_steal"] = system.host_steal_s() - steal0
    loop_cpu["wall"] = time.perf_counter() - t0
    if args.corrupt and answers:
        wl.corrupt(answers)
    mem = system.memory_parts(jvm.pid if jvm is not None else None,
                              rss_baseline, spark)
    tc = time.perf_counter()
    verdicts = wl.check(state, answers) + [build_ok]
    check_s = time.perf_counter() - tc
    attempted = len(verdicts) + sum(1 for o in ops if o["error"])
    failed = attempted - sum(verdicts)
    log(f"{len(ops)} ops, {attempted} checked in {check_s:.2f} s, {failed} failed")

    untraced = [o for o in ops if not o["traced"] and not o["error"]]
    # one latency sample per block of ``wl.period`` ops: a point query, or a
    # whole spark mix cycle (its six ops differ too much for one median)
    blocks: dict[int, list] = {}
    for o in ops:
        if not o["traced"]:
            blocks.setdefault(o["i"] // wl.period, []).append(o)
    lat = [sum(o["s"] for o in b) for b in blocks.values()
           if len(b) == wl.period and not any(o["error"] for o in b)]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * statistics.median(lat) if lat else 0.0,
        "build_docs_per_s": stats["n_docs"] / build_s,
        "index_size_ratio": system.dir_bytes(index_dir) / content_bytes,
        # the JVM counts by live heap, not RSS: G1 grows its heap in steps
        # that move the JVM's VmHWM by 10-30 % between identical runs
        "memory_mb": sum(mem[k] for k in ("driver_growth", "jvm_heap_live",
                                          "jvm_nonheap", "workers_hwm")),
    }
    raw = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts, "corpus_docs": len(rows),
        "corpus_content_bytes": content_bytes, "inputs": wl.properties(len(ops)),
        "setup_s": setup_s, "build_s": build_s, "setup_phases": phases,
        "rss_baseline_mb": rss_baseline, "memory_parts_mb": mem,
        "loop_cpu_s": loop_cpu,
        "block_s": lat,
        "op_s": [o["s"] for o in untraced],
        "op_driver_cpu_s": [o["cpu_s"] for o in untraced],
        "op_kinds": [o["kind"] for o in untraced],
        "samples": len(lat), "attempted": attempted, "failed": failed,
        "end_to_end": e2e,
    }
    if lat:
        raw["tail"] = {f"p{int(q * 100)}_ms": 1000 * percentile(lat, q)
                       for q in (0.9, 0.99) if len(lat) * (1 - q) >= 10}

    if args.trace:
        from perfbench import layers

        system.stop_spark(spark)
        live["spark"] = None
        metrics, table = layers.per_layer(args.workload, wl, tracer, ops, events,
                                          index_dir, failed / attempted)
        raw["per_layer"] = table
        tracer.dump(HERE / "out" / f"{args.workload}-s{args.seed}-spans.json")
        out = {k: {"value": float(v), "unit": layers.UNITS[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out}
    return result, raw


def measure(args, wl, state, spark, tracer):
    """Closed loop for ``args.seconds``, in at least ``wl.min_blocks``
    whole blocks of ``wl.period`` operations; in a traced run, tracing is on
    for every other block."""
    from solrutils_spark.query import wand

    sc = spark.sparkContext
    ops, answers = [], []
    t_end = time.perf_counter() + args.seconds
    i = 0
    # a block starts only if it should end in time (a traced run needs a
    # traced block between two untraced ones: the first still warms up)
    min_ops = wl.period * max(wl.min_blocks, 3 if tracer is not None else 1)
    t_start = time.perf_counter()
    while True:
        if i % wl.period == 0 and i >= min_ops:
            now = time.perf_counter()
            block = (now - t_start) / (i // wl.period)
            if now + block > t_end:
                break
        traced = tracer is not None and (i // wl.period) % 2 == 1
        if tracer is not None:
            sc.setJobGroup(f"op-{i}", wl.name)
            tracer.op = i
            if traced:
                tracer.enable()
        lookups = wand.KERNEL_STATS["lookup_on"]
        err = None
        c0, t0 = time.thread_time(), time.perf_counter()
        try:
            kind, answer, units = wl.op(state, i)
        except Exception as e:  # a failed operation, counted as such
            kind, answer, units, err = wl.kinds[0], None, 0, repr(e)
        dt, cpu = time.perf_counter() - t0, time.thread_time() - c0
        if traced:
            tracer.disable()
        if err is not None:
            log(f"op {i} failed: {err}")
        else:
            answers.append(answer)
        rec = {"i": i, "kind": kind, "s": dt, "cpu_s": cpu, "units": units,
               "traced": traced,
               "error": err, "lookup_on": wand.KERNEL_STATS["lookup_on"] - lookups}
        if tracer is not None:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"op-{i}"))
        ops.append(rec)
        i += 1
    if tracer is not None:
        sc.setJobGroup("checks", "checks")
    return ops, answers


def make_tracer():
    from perfbench.tracing import Tracer
    import solrutils_spark.index.builder as builder
    import solrutils_spark.query.boolean as boolean
    import solrutils_spark.query.engine as engine
    from solrutils_spark.operators.executor import PlanExecutor
    from solrutils_spark.plans.model import SearchModel

    R = engine.IndexReader
    targets = {
        "build_index": (builder, "build_index"),
        "query_terms": (engine, "query_terms"),
        "term_dfs": (R, "term_dfs"),
        "search_local": (R, "search_local"),
        "search_conj_local": (R, "search_conj_local"),
        "topk_rows": (engine, "topk_rows"),
        "topk_conj": (boolean, "topk_conj"),
        "search_batch": (R, "search_batch"),
        "search_conj_batch": (R, "search_conj_batch"),
        "search": (R, "search"),
        "fetch": (R, "fetch"),
        "matching_docs": (R, "matching_docs"),
        "matching_count": (R, "matching_count"),
        "cache_for_serving": (R, "cache_for_serving"),
        "model.build": (SearchModel, "build"),
        "executor.execute": (PlanExecutor, "execute"),
        "executor.search": (PlanExecutor, "search"),
    }
    seen_terms: set[str] = set()

    def term_dfs(span, args, out):
        terms = list(args[1])
        span.attrs["terms"] = len(terms)
        span.attrs["new_terms"] = len(set(terms) - seen_terms)
        seen_terms.update(terms)

    def kernel_rows(span, args, out):
        span.attrs["rows"] = len(args[0])
        span.attrs["postings"] = int(sum(int(r.df_part) for r in args[0]))

    return Tracer(targets, hooks={"term_dfs": term_dfs, "topk_rows": kernel_rows,
                                  "topk_conj": kernel_rows})


def engine_ids(index_dir: Path, rows: list[dict]) -> dict[int, int]:
    """Source row → engine doc_id, through the built docs table."""
    import pyarrow.parquet as pq

    t = pq.read_table(index_dir / "docs.parquet", columns=["path", "doc_id"])
    by_path = dict(zip(t["path"].to_pylist(), t["doc_id"].to_pylist()))
    return {i: int(by_path[r["path"]]) for i, r in enumerate(rows)}


def check_build(index_dir: Path, stats: dict, rows: list[dict], oracle_index) -> bool:
    """n_docs and total_tokens equal the oracle's; every row's content_sha256
    equals the source content's."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(index_dir / "docs.parquet", columns=["path", "content_sha256"])
    got = dict(zip(t["path"].to_pylist(), t["content_sha256"].to_pylist()))
    want = {r["path"]: hashlib.sha256(r["content"].encode()).hexdigest() for r in rows}
    ok = (stats["n_docs"] == oracle_index.n_docs
          and stats["total_tokens"] == sum(oracle_index.doc_len.values())
          and got == want)
    if not ok:
        log(f"build check failed: n_docs {stats['n_docs']} vs {oracle_index.n_docs}")
    return ok


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, not as loose modules
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != HERE]
    sys.exit(main())

"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload bm25 --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones, from spans
recorded around the program's public functions. The lines before it
carry the per-operation counts, workload figures that are not gated,
the checker self-test and the run's noise stamp.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the client is single-threaded numpy; Spark tasks are the parallelism
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "batch_queries_per_s": "queries/s",
    "index_bytes_per_input_byte": "B/B",
    "query_recall_at_10": "ratio",
    "batch_recall_at_10": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "index_store.warm_s": "s",
    "index_store.term_dfs_for_ms": "ms",
    "index_store.read_postings_arrow_ms": "ms",
    "index_store.postings_rows_read": "rows/query",
    "index_store.postings_bytes": "B",
    "index_store.norms_bytes": "B",
    "index_store.dictionary_bytes": "B",
    "wand.topk_call_ms": "ms",
    "wand.result_delivery_ms": "ms",
    "wand.filtered_call_ms": "ms",
    "wand.filtered_delivery_ms": "ms",
    "wand.spark_jobs_per_query": "count",
    "wand.spark_tasks_per_query": "count",
    "wand.blocks_decoded": "count/batch",
    "wand.candidates": "count/batch",
    "wand.blocks_skipped_ratio": "ratio",
    "docid.assign_doc_ids_s": "s",
    "segment_build.wave_s": "s",
    "merge.merge_segments_s": "s",
    "merge.postings_s": "s",
    "merge.dictionary_s": "s",
    "merge.norms_s": "s",
    "merge.write_merged_delta_s": "s",
    "merge.fold_deltas_s": "s",
    "incremental.append_index_s": "s",
    "delete.delete_docs_s": "s",
    "similarity.ivf_build_s": "s",
    "similarity.batch_call_ms": "ms",
    "similarity.batch_delivery_ms": "ms",
    "similarity.spark_jobs_per_batch": "count",
    "similarity.bytes_scanned": "B/batch",
    "similarity.rerank_bytes": "B/batch",
    "similarity.compression_ratio": "ratio",
}


class Run:
    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
        self.out = os.path.join(HERE, "out")
        self.spark = None
        self.tracer = None

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _start_spark(run: Run):
    # every file Spark, the JVM and the Python workers write stays in
    # the run's scratch directory
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # 15 GB host, one workload at a time: a 3 GB driver heap (the local
    # executor) leaves room for 4 Python workers and the client
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from opensearch_jvector_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=os.cpu_count(),
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run.work} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_workers(spark) -> float:
    """Run one small Python-UDF job, so that the first timed operation
    does not pay for starting the Python workers and for the JVM's
    first compile of the job path. Returns its wall time."""
    def same(batches):
        yield from batches

    t0 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(same, "id long").collect()
    return time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    if spark is None:
        return
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measures(w, setup_s: float) -> dict:
    """Every end-to-end measure of the run. Those in END_TO_END are
    gated; the query latencies are printed beside them (see
    perfbench/README.md for why they are not gated)."""
    lat = w.lat
    single, filtered = ("local", "local_filtered") if w.name == "ann" else ("single", "filtered")
    # one mean recall per batch path (bm25: one; ann: PQ and SQ first
    # pass); their geometric mean falls with whichever path loses recall
    paths = [statistics.fmean(v) for k, v in w.recalls.items() if k.startswith("batch")]
    m = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(lat[single]) * 1000,
        "filtered_query_p50_ms": statistics.median(lat[filtered]) * 1000,
        "batch_queries_per_s": w.batch_queries / sum(lat["batch"]),
        "query_recall_at_10": statistics.fmean(w.recalls["query"]),
        "batch_recall_at_10": math.prod(paths) ** (1 / len(paths)),
    }
    m.update(w.figures())
    if len(lat[single]) >= 200:
        m["query_p95_ms"] = statistics.quantiles(lat[single], n=20)[-1] * 1000
    return m


def per_layer(w, session_s: float) -> dict:
    t = w.tracer
    t.count_jobs()

    def total(name):
        return sum(t.durations(name))

    def med_ms(name, kinds=None):
        d = t.durations(name, kinds)
        return statistics.median(d) * 1000 if d else 0.0

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    single_ops = [o for o in t.ops if o["traced"] and o["kind"] in ("single", "filtered")]
    qm = w.wand_metrics
    blocks = sum(x["blocks_total"] for x in qm)
    sm = [x for x in w.sim_metrics if "bytes_scanned" in x]
    batch_ops = [o for o in t.ops if o["traced"] and o["kind"].startswith("batch_")]
    m = {
        "session.start_s": session_s,
        "index_store.warm_s": total("index_store.warm"),
        "index_store.term_dfs_for_ms": med_ms("index_store.term_dfs_for", {"single"}),
        "index_store.read_postings_arrow_ms": med_ms("index_store.read_postings_arrow", {"single"}),
        "index_store.postings_rows_read": mean(t.counts("index_store.read_postings_arrow", "rows")),
        "wand.topk_call_ms": med_ms("wand.topk_call"),
        "wand.result_delivery_ms": med_ms("wand.result_delivery"),
        "wand.filtered_call_ms": med_ms("wand.filtered_call"),
        "wand.filtered_delivery_ms": med_ms("wand.filtered_delivery"),
        "wand.spark_jobs_per_query": mean([o["spark_jobs"] for o in single_ops]),
        "wand.spark_tasks_per_query": mean([o["spark_tasks"] for o in single_ops]),
        "wand.blocks_decoded": mean([x["blocks_decoded"] for x in qm]),
        "wand.candidates": mean([x["candidates"] for x in qm]),
        "wand.blocks_skipped_ratio": (sum(x["blocks_skipped"] for x in qm) / blocks) if blocks else 0.0,
        "docid.assign_doc_ids_s": total("docid.assign_doc_ids"),
        "segment_build.wave_s": total("segment_build.write_build_wave"),
        "merge.merge_segments_s": total("merge.merge_segments"),
        "merge.write_merged_delta_s": total("merge.write_merged_delta"),
        "merge.fold_deltas_s": total("merge.fold_deltas"),
        "incremental.append_index_s": total("incremental.append_index"),
        "delete.delete_docs_s": total("delete.delete_docs"),
        "similarity.ivf_build_s": total("similarity.ivf_build"),
        "similarity.batch_call_ms": med_ms("similarity.batch_call"),
        "similarity.batch_delivery_ms": med_ms("similarity.batch_delivery"),
        "similarity.spark_jobs_per_batch": mean([o["spark_jobs"] for o in batch_ops]),
        "similarity.bytes_scanned": mean([x["bytes_scanned"] for x in sm]),
        "similarity.rerank_bytes": mean([x["rerank_bytes"] for x in sm]),
        "similarity.compression_ratio": mean([x["compression_ratio"] for x in sm]),
    }
    for k in ("index_store.postings_bytes", "index_store.norms_bytes", "index_store.dictionary_bytes",
              "merge.postings_s", "merge.dictionary_s", "merge.norms_s"):
        m[k] = float(w.layer.get(k, 0.0))
    return m


def info(w, m: dict, stamp: dict, selftest: dict) -> dict:
    lat = w.lat
    single = "local" if w.name == "ann" else "single"
    out = {
        "workload": w.name,
        "ops": {k: {"attempted": a, "failed": f} for k, (a, f) in sorted(w.ops.items())},
        "figures": {k: v for k, v in m.items() if k not in END_TO_END},
        "samples": {k: len(v) for k, v in sorted(lat.items())},
        "checker_selftest": selftest,
        "noise": stamp,
    }
    xs = lat.get(single, [])
    traced = lat.get(single + "_traced")
    if traced and xs:
        out["trace_overhead"] = {
            "traced_p50_ms": statistics.median(traced) * 1000,
            "untraced_p50_ms": statistics.median(xs) * 1000,
            "ratio": statistics.median(traced) / statistics.median(xs),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import noise
    import oracle
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    stamp = noise.NoiseStamp()
    selftest = oracle.selftest()
    run = Run(args)
    try:
        t0 = time.perf_counter()
        run.spark = _start_spark(run)
        session_s = time.perf_counter() - t0
        workers_s = _start_workers(run.spark)
        run.tracer = Tracer(run.spark.sparkContext, run.trace)
        if run.trace:
            workloads.install_tracing(run.tracer)
        w = workloads.WORKLOADS[args.workload](run)
        w.setup()
        setup_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        w.write_phase()
        write_s = time.perf_counter() - t0
        # whole rounds until the deadline, and at least two: the
        # round's filter selectivity (bm25) or first pass (ann)
        # alternates. The query streams hold gen.MAX_ROUNDS rounds.
        deadline = time.perf_counter() + args.seconds
        r = 0
        while r < 2 or (time.perf_counter() < deadline and r < gen.MAX_ROUNDS):
            w.round(r)
            r += 1
        rounds_s = time.perf_counter() - deadline + args.seconds
        m = measures(w, setup_s)
        metrics = per_layer(w, session_s) if run.trace else m
        units = PER_LAYER if run.trace else END_TO_END
        if run.trace:
            os.makedirs(run.out, exist_ok=True)
            run.tracer.dump(os.path.join(run.out, f"trace-{args.workload}-{args.seed}.jsonl"))
        doc = info(w, m, stamp.finish(run.spark), selftest)
        doc["rounds"] = r
        doc["phase_s"] = {"worker_start": workers_s, "setup": setup_s, "write": write_s, "rounds": rounds_s}
        print(json.dumps({"info": doc}))
        result = {
            # false when the checker misses a perturbed answer or any
            # answer of the run was wrong
            "correct": oracle.selftest_ok(selftest) and w.failed() == 0,
            "attempted": w.attempted(),
            "failed": w.failed(),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        _stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One fresh benchmark process: builds the Spark session and runs passes.

    python3 perfbench/child.py --mode run|trace --workload W
        --inputs DIR --work DIR --seconds N --out RESULT.json

``run`` times ``get_spark``, one cold pass, two warm-up passes and then
measured passes, at least three and for at least ``--seconds``, checking
every pass.
``trace`` runs a cold pass, two untraced warm passes and a traced pass with
the Spark event log on (on ``kg_wide`` also a traced ``stream_kg`` drain),
and turns spans and the log into per-layer figures.  A pass that raises
counts as failed in either mode, and the process still writes its result.
``run.py`` starts this file; it is not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import spans
import workloads

LAYERS = ["session", "sources", "segment", "mentions", "pairs", "score",
          "linking.lsh", "linking.cc", "linking.graph", "dedup.exact",
          "dedup.minhash", "dedup.simhash", "streaming", "materialize"]
LAYER_FIELDS = ["wall_s", "cpu_s", "driver_s", "shuffle_mb", "jobs", "rows_out"]
EXTRA_METRICS = [
    "segment.python_s", "sources.bytes_read_mb", "linking.lsh.true_pair_ratio",
    "linking.link_f1", "score.triple_f1", "dedup.minhash.true_pair_ratio",
    "dedup.minhash.family_mismatch_pairs", "dedup.minhash.dedup_f1",
    "streaming.extract_s", "streaming.sink_s", "streaming.merge_s", "streaming.batch_p50_s",
    "streaming.trigger_overhead_s", "streaming.jobs_per_batch", "streaming.state_mb_per_batch",
    "streaming.cap_merges", "materialize.pinned_mb", "trace.overhead_pct"]
# every per-layer metric, in the order BENCHMARK.json lists them; a layer
# the workload does not run reports 0
PER_LAYER_METRICS = [f"{layer}.{field}" for layer in LAYERS for field in LAYER_FIELDS] + EXTRA_METRICS
# The JIT keeps speeding up the passes after the cold one (kg_wide on 4
# vCPU: 12.4 s cold, then 5.8, 5.1, 4.7 s, and 3.4-4.0 s from the fifth
# pass on), so two warm-up passes run before the measured ones, and at least
# three are measured: their median then lies on the plateau even when the
# first measured pass is still warming up or one pass meets a busy host.
WARMUP_PASSES = 2
MIN_MEASURED_PASSES = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session(work: str, event_log: str | None = None):
    from semanticrelationextractionpolish_spark.session import get_spark

    n = cores()
    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    conf = {"spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="semrex-perfbench", cores=n,
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": cores(), "mem_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def _raised() -> str:
    """Print the exception being handled; return it as a failed check."""
    traceback.print_exc()
    return "raised: " + traceback.format_exception_only(*sys.exc_info()[:2])[-1].strip()


def timed_pass(workload: str, spark, inputs: str, truth: dict) -> dict:
    """One pass plus its check; the wall time covers the pass only."""
    t0 = time.perf_counter()
    try:
        out = workloads.run_pass(workload, spark, inputs, truth)
        wall = time.perf_counter() - t0
        quality = workloads.check_pass(workload, out, truth)
        quality["check_s"] = time.perf_counter() - t0 - wall
    except Exception:  # a pass that raises counts as failed, the run goes on
        quality = {"failures": [_raised()]}
        wall = time.perf_counter() - t0
    finally:
        workloads.release_all(spark)
    quality.pop("graph", None)
    return {"wall_s": wall, **quality}


def mode_run(args, truth: dict) -> dict:
    t0 = time.perf_counter()
    spark = session(args.work)
    setup_s = time.perf_counter() - t0
    env = environment(spark)
    cold = timed_pass(args.workload, spark, args.inputs, truth)
    warmup = [timed_pass(args.workload, spark, args.inputs, truth) for _ in range(WARMUP_PASSES)]
    measured = []
    start = time.perf_counter()
    while len(measured) < MIN_MEASURED_PASSES or time.perf_counter() - start < args.seconds:
        measured.append(timed_pass(args.workload, spark, args.inputs, truth))
    spark.stop()
    return {"setup_s": setup_s, "env": env, "cold": cold, "warmup": warmup,
            "measured": measured, "units": workloads.n_units(args.workload, truth)}


def _median(values):
    return statistics.median(values) if values else 0.0


def traced_batch_pass(args, spark, tracer, truth: dict, extra: dict) -> tuple[float, dict]:
    """The workload's traced pass, then its check; returns the pass wall
    time and the check's result, and fills the quality figures into
    ``extra``.  ``materialize.pinned_mb`` is read before the check runs and
    after the benchmark's own caches are dropped, so it is what the
    program leaves pinned."""
    t0 = time.perf_counter()
    if args.workload == "kg_wide":
        out = workloads.kg_traced_pass(spark, args.inputs, tracer, truth)
    else:
        out = workloads.dedup_pass(spark, args.inputs, truth, tracer)
    wall = time.perf_counter() - t0
    for df in out.get("calls", {}).values():
        df.unpersist(True)
    extra["materialize.pinned_mb"] = workloads.pinned_bytes(spark) / 1e6
    if args.workload == "kg_wide":
        quality = workloads.kg_check(out, truth)
        extra["linking.lsh.true_pair_ratio"] = workloads.lsh_true_pair_ratio(out, truth)
        extra["score.triple_f1"] = quality["triple_f1"]
        extra["linking.link_f1"] = quality["link_f1"]
    else:
        quality = workloads.dedup_check(out, truth)
        extra["dedup.minhash.true_pair_ratio"] = quality["true_pair_ratio"]
        extra["dedup.minhash.family_mismatch_pairs"] = quality["family_mismatch_pairs"]
        extra["dedup.minhash.dedup_f1"] = quality["dedup_f1"]
    return wall, quality


def traced_stream_pass(args, spark, tracer, truth: dict, batch_graph, extra: dict) -> list[str]:
    """The traced ``stream_kg`` drain and its check against the batch graph
    of the traced pass; fills the streaming figures into ``extra`` and
    returns the failed checks."""
    stream = workloads.stream_traced_pass(spark, args.inputs, tracer,
                                          os.path.join(args.work, "stream"), truth)
    batches = stream["batches"]
    steps = [b["extract_sec"] + b["sink_sec"] + b["merge_sec"] for b in batches]
    extra.update({
        "streaming.extract_s": _median([b["extract_sec"] for b in batches]),
        "streaming.sink_s": _median([b["sink_sec"] for b in batches]),
        "streaming.merge_s": _median([b["merge_sec"] for b in batches]),
        "streaming.batch_p50_s": _median(stream["triggers"]),
        "streaming.trigger_overhead_s": _median(
            [t - s for t, s in zip(stream["triggers"], steps)]),
        "streaming.state_mb_per_batch": stream["state_bytes"] / 1e6 / max(1, len(batches)),
        "n_batches": len(batches),
    })
    if batch_graph is None:
        return ["stream: no batch graph to compare with (the traced pass failed)"]
    check = workloads.stream_check(spark, stream, batch_graph, truth)
    next(s for s in tracer.spans if s["name"] == "streaming")["counts"]["rows_out"] = check["n_triples"]
    extra["streaming.cap_merges"] = check["cap_merges"]
    return check["failures"]


def mode_trace(args, truth: dict) -> dict:
    log_dir = os.path.join(args.work, "eventlog")
    tracer = spans.Tracer(run_id=f"{args.workload}-{os.getpid()}")
    with tracer.span("session"):
        spark = session(args.work, event_log=log_dir)
    tracer.sc = spark.sparkContext
    env = environment(spark)
    # two untraced warm passes: the second is the reference the traced pass
    # is compared with, after the first warm pass finished warming the JIT
    untraced = [timed_pass(args.workload, spark, args.inputs, truth) for _ in range(3)]
    warm = untraced[-1]
    extra, failures = {}, [f for p in untraced for f in p["failures"]]
    failed = sum(1 for p in untraced if p["failures"])

    # a traced pass that raises counts as failed; the run still reports
    traced_wall, batch_graph = None, None
    try:
        traced_wall, quality = traced_batch_pass(args, spark, tracer, truth, extra)
        pass_failures, batch_graph = quality["failures"], quality.get("graph")
    except Exception:
        pass_failures = [_raised()]
    failures += pass_failures
    failed += bool(pass_failures)
    with tracer.span("materialize") as c:
        c["rows_out"] = workloads.release_all(spark)

    passes = len(untraced) + 1
    if args.workload == "kg_wide":
        passes += 1
        try:
            stream_failures = traced_stream_pass(args, spark, tracer, truth, batch_graph, extra)
        except Exception:
            stream_failures = [_raised()]
        failures += stream_failures
        failed += bool(stream_failures)
        with tracer.span("materialize") as c:
            c["rows_out"] = workloads.release_all(spark)
    spark.stop()

    tracer.write(os.path.join(args.work, "spans.jsonl"))
    jobs = spans.parse_jobs(spans.read_events(spans.find_event_log(log_dir)))
    table = spans.layer_table(tracer.spans, jobs)
    metrics = dict(extra)
    for layer in LAYERS:
        row = table.get(layer, {})
        for field in LAYER_FIELDS:
            value = row.get("counts", {}).get(field, 0) if field == "rows_out" else row.get(field, 0)
            metrics[f"{layer}.{field}"] = value
    metrics["segment.python_s"] = table.get("segment", {}).get("python_s", 0.0)
    metrics["sources.bytes_read_mb"] = table.get("sources", {}).get("bytes_read_mb", 0.0)
    if extra.get("n_batches"):
        metrics["streaming.jobs_per_batch"] = metrics["streaming.jobs"] / extra["n_batches"]
    if traced_wall is not None:
        metrics["trace.overhead_pct"] = 100.0 * (traced_wall - warm["wall_s"]) / warm["wall_s"]
    metrics = {name: metrics.get(name, 0) for name in PER_LAYER_METRICS}
    # the layers of a pass cover its wall time except the root's self time
    coverage = {}
    for root in (s for s in tracer.spans if s["name"] in ("pass", "stream_pass")):
        wall = root["end"] - root["start"]
        own = sum(e - s for s, e in spans.self_intervals(root, tracer.spans))
        coverage[root["name"]] = {"wall_s": wall, "layers_s": wall - own}
    return {"env": env, "metrics": metrics, "failures": failures, "passes": passes,
            "failed": failed, "coverage": coverage, "table": table}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--mode", choices=["run", "trace"], required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(args.inputs, "truth.json")) as f:
        truth = json.load(f)
    if args.mode == "run":
        result = mode_run(args, truth)
    else:
        result = mode_trace(args, truth)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

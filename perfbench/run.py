#!/usr/bin/env python3
"""Ingestion-path benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload landing_small_files --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` and starts one ``local[<cores>]`` Spark session. It runs the
workload's warm-up passes, then measures ``--seconds`` // 8 passes (at
least one), checks every pass's outputs, and prints each metric by name
and unit. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).

``--trace 1`` first measures untraced, then starts a new session with
Spark's event log on, runs the warm-up passes there, wraps the calls
into each layer in spans and measures one more pass; the per-layer
record, with every span's stats, is also written to
``.perfbench_work/trace-<workload>-<seed>-<pid>.json``.
Tracing overhead is reported as the traced pass minus the untraced
median.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit, except that per-layer record.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dataingestionframework_spark"
# --seconds buys one measured pass per PASS_SECONDS: a warm pass of
# either benchmarked workload takes about that long on 4 cores
PASS_SECONDS = 8

END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("batch_p50_ms", "ms"),
    ("batch_tail_ms", "ms"),
    ("report_s", "s"),
    ("peak_rss_mb", "MiB"),
)

# (module path, attribute path, span name): the calls into each layer.
SPANS = (
    ("ingest.pipeline", "IngestionPipeline.run_stream", None),
    ("ingest.pipeline", "IngestionPipeline.run_batch", None),
    ("ingest.pipeline", "IngestionPipeline.prepare", None),
    ("ingest.pipeline", "IngestionPipeline.process_batch", None),
    ("ingest.pipeline", "IngestionPipeline._last_committed_epoch", None),
    ("ingest.pipeline", "IngestionPipeline._check_stream_drift", None),
    ("ingest.pipeline", "IngestionPipeline._next_batch_id", None),
    ("ingest.pipeline", "IngestionPipeline._evolved_from_store", None),
    # names imported into ingest.pipeline are patched where it calls them
    ("ingest.pipeline", "quarantine_batch", "ingest.quarantine.quarantine_batch"),
    ("ingest.pipeline", "mask_columns", "ingest.masking.mask_columns"),
    ("ingest.pipeline", "project_rename_audit", "ingest.audit.project_rename_audit"),
    ("ingest.pipeline", "detect_new_columns", "ingest.drift.detect_new_columns"),
    ("ingest.pipeline", "read_stream", "sources.stream.read_stream"),
    ("ingest.pipeline", "read_batch", "sources.batch.read_batch"),
    ("ingest.pipeline", "with_file_metadata", "sources.batch.with_file_metadata"),
    ("ingest.drift", "sniff_source_columns", None),
    ("ingest.expectations", "split_valid", None),
    ("ingest.reconcile", "daily_report", None),
    ("ingest.corpus", "corpus_incremental_near_dup_intake", None),
    ("catalog.table", "ManagedTable.append", None),
    ("catalog.table", "ManagedTable.append_counted", None),
    ("catalog.table", "ManagedTable.append_rows", None),
    ("catalog.table", "ManagedTable.update_rows", None),
    ("catalog.table", "ManagedTable.overwrite", None),
    ("catalog.table", "ManagedTable.create", None),
    ("catalog.system", "OpsLog.write", None),
    ("catalog.system", "SystemTables.create_all", None),
    ("operators.dedup", "update_lsh_index_bucketed", None),
    ("operators.dedup", "verify_pairs_jaccard_arrays", None),
    ("session", "release_checkpoint", None),
    ("session", "path_exists", None),
)
LOCAL_CHECKPOINT = "pyspark.DataFrame.localCheckpoint"
AWAIT = "pyspark.StreamingQuery.awaitTermination"
START = "pyspark.DataStreamWriter.start"
RUN_STREAM = "ingest.pipeline.IngestionPipeline.run_stream"

# Spans whose stats are published as per-layer metrics.
PUBLISHED = (
    RUN_STREAM,
    "ingest.pipeline.IngestionPipeline.run_batch",
    "ingest.pipeline.IngestionPipeline.process_batch",
    "ingest.drift.sniff_source_columns",
    "ingest.quarantine.quarantine_batch",
    "ingest.masking.mask_columns",
    "ingest.reconcile.daily_report",
    "ingest.corpus.corpus_incremental_near_dup_intake",
    "sources.stream.read_stream",
    "sources.batch.read_batch",
    "catalog.table.ManagedTable.append",
    "catalog.table.ManagedTable.append_rows",
    "catalog.table.ManagedTable.update_rows",
    "catalog.system.OpsLog.write",
    "operators.dedup.update_lsh_index_bucketed",
    "session.release_checkpoint",
)
STAT_UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
              "driver_s": "s", "bytes_written": "B"}
# Spark StreamingQueryProgress.durationMs keys, median per micro-batch.
STREAM_PHASES = (
    ("stream.latest_offset_ms", "latestOffset"),
    ("stream.query_planning_ms", "queryPlanning"),
    ("stream.add_batch_ms", "addBatch"),
    ("stream.wal_commit_ms", "walCommit"),
    ("stream.commit_offsets_ms", "commitOffsets"),
)
OTHER_LAYER = (
    ("stream.jobs_per_batch", "count"),
    ("stream.restarts", "count"),
    ("stream.accounted_share", "share"),
    ("catalog.system.OpsLog.write.growth", "ratio"),
    ("session.local_checkpoints", "count"),
    ("trace.overhead.drain_s", "s"),
    ("trace.overhead.batch_p50_ms", "ms"),
    ("trace.overhead.report_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = [(f"{span}.{k}", u) for span in PUBLISHED for k, u in STAT_UNITS.items()]
    out += [(name, "ms") for name, _ in STREAM_PHASES]
    return out + list(OTHER_LAYER)


def start_session(work: str, cores: int, event_log: str | None = None):
    from dataingestionframework_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def install_spans(tracer, spark) -> None:
    import importlib

    from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

    for mod, attr, name in SPANS:
        owner = importlib.import_module(f"{PACKAGE}.{mod}")
        *path, fn = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        tracer.wrap(owner, fn, name or f"{mod}.{attr}")
    tracer.wrap(type(spark.range(0)), "localCheckpoint", LOCAL_CHECKPOINT)
    tracer.wrap(StreamingQuery, "awaitTermination", AWAIT)
    tracer.wrap(DataStreamWriter, "start", START)


def pass_values(m: dict) -> dict:
    """The end-to-end metrics measured within one pass."""
    return {
        "setup_s": m["setup_s"],
        "rows_per_s": m["committed"] / m["drain_s"],
        "batch_p50_ms": statistics.median(m["latencies_ms"]),
        "report_s": statistics.median(m["report_s"]),
    }


def end_to_end(per_pass: list[dict], latencies_ms: list[float], warm_s: float,
               rss_mb: float) -> dict:
    """Each per-pass metric is the median over the measured passes; set-up
    adds the session start and warm-up passes. The tail is the upper
    quartile of all measured micro-batches: a run has too few batches
    for any percentile above the median with ten batches beyond it."""
    out = {k: statistics.median(v[k] for v in per_pass) for k in per_pass[0]}
    out["setup_s"] += warm_s
    out["batch_tail_ms"] = (statistics.quantiles(latencies_ms, n=4, method="inclusive")[2]
                            if len(latencies_ms) > 1 else latencies_ms[0])
    out["peak_rss_mb"] = rss_mb
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(tracer, jobs: list[dict], traced: dict, untraced: dict, starts: int) -> dict:
    from spans import growth, layer_stats

    stats = layer_stats(tracer, jobs, list(PUBLISHED) + [AWAIT])
    out = {f"{span}.{k}": stats[span][k] for span in PUBLISHED for k in STAT_UNITS}
    batches = [b for b in traced["stream_batches"] if b["rows"]]
    for name, key in STREAM_PHASES:
        vals = [b["duration_ms"].get(key, 0) for b in batches]
        out[name] = statistics.median(vals) if vals else 0
    per_batch = []
    for b in batches:
        t0 = _epoch(b["timestamp"])
        t1 = t0 + b["duration_ms"]["triggerExecution"] / 1e3
        per_batch.append(sum(1 for j in jobs if t0 <= j["start"] <= t1))
    out["stream.jobs_per_batch"] = statistics.fmean(per_batch) if per_batch else 0
    out["stream.restarts"] = max(0, starts - 1)
    # share of the drain wall time explained by the spans under it plus
    # Spark's per-batch phases outside addBatch (the handler runs inside
    # addBatch, so its spans already cover that part)
    drain_names = (RUN_STREAM, AWAIT)
    outer = [s for s in tracer.spans
             if s[0] in drain_names and s[2] is not None
             and (s[3] < 0 or tracer.spans[s[3]][0] not in drain_names)]
    wall = sum(s[2] - s[1] for s in outer)
    unexplained = stats[RUN_STREAM]["self_s"] + stats[AWAIT]["self_s"]
    engine = sum(b["duration_ms"]["triggerExecution"] - b["duration_ms"].get("addBatch", 0)
                 for b in traced["stream_batches"]) / 1e3
    out["stream.accounted_share"] = (wall - unexplained + engine) / wall if wall else 0
    writes = [s[2] - s[1] for s in tracer.calls("catalog.system.OpsLog.write")]
    out["catalog.system.OpsLog.write.growth"] = growth(writes) if writes else 0
    out["session.local_checkpoints"] = len(tracer.calls(LOCAL_CHECKPOINT))
    out["trace.overhead.drain_s"] = traced["drain_s"] - untraced["drain_s"]
    out["trace.overhead.batch_p50_ms"] = (
        statistics.median(traced["latencies_ms"]) - untraced["batch_p50_ms"]
    )
    out["trace.overhead.report_s"] = statistics.median(traced["report_s"]) - untraced["report_s"]
    return out


def traced_pass(w, work: str, cores: int, inputs: str, untraced: dict, ck) -> tuple[dict, int]:
    """Measure one more pass in a fresh session with the event log on
    and every layer call wrapped in a span, after the workload's warm-up
    passes in that session; ``untraced`` holds the untraced medians
    (drain, p50, report). Returns the per-layer metrics and the number
    of operations run."""
    import spans

    event_log = os.path.join(work, "eventlog")
    os.makedirs(event_log)
    spark = start_session(work, cores, event_log)
    listener = spans.ProgressLog()
    spark.streams.addListener(listener)
    root = os.path.join(work, "traced")
    for i in range(w.WARM_PASSES):
        w.one_pass(spark, inputs, os.path.join(root, f"warmup{i}"), listener)
    starts = listener.starts
    tracer = spans.Tracer()
    install_spans(tracer, spark)
    try:
        m = w.one_pass(spark, inputs, os.path.join(root, "pass"), listener)
    finally:
        tracer.restore()
    w.check(spark, m, ck)
    spark.stop()  # flushes the event log
    jobs = spans.read_event_log(event_log)
    layer = per_layer(tracer, jobs, m, untraced, listener.starts - starts)
    record = os.path.join(ROOT, ".perfbench_work", f"trace-{os.path.basename(work)}.json")
    all_spans = sorted({s[0] for s in tracer.spans})
    with open(record, "w") as f:
        json.dump({"workload": w.name, "per_layer": layer,
                   "spans": spans.layer_stats(tracer, jobs, all_spans),
                   "stream_batches": m["stream_batches"]}, f, indent=1)
    print(f"# per-layer record: {os.path.relpath(record, ROOT)}")
    return layer, len(m["latencies_ms"]) + len(m["report_s"])


def stop_jvm() -> None:
    """Close the driver JVM's stdin (it exits on EOF) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


def run(args) -> int:
    import spans
    import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's short-lived launcher JVM: no perf data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    spark = None
    try:
        t_start = time.perf_counter()
        w = workloads.WORKLOADS[args.workload]()
        n_passes = max(1, args.seconds // PASS_SECONDS)
        w.make_inputs(inputs, args.seed, n_passes)

        t0 = time.perf_counter()
        spark = start_session(work, cores)
        t_session = time.perf_counter()
        listener = spans.ProgressLog()
        spark.streams.addListener(listener)
        for i in range(w.WARM_PASSES):
            w.one_pass(spark, inputs, os.path.join(work, f"warmup{i}"), listener)
        warm_s = time.perf_counter() - t0
        passes = [w.one_pass(spark, inputs, os.path.join(work, f"pass{i}"), listener)
                  for i in range(n_passes)]
        per_pass = [pass_values(m) for m in passes]
        latencies = [t for m in passes for t in m["latencies_ms"]]
        e2e = end_to_end(per_pass, latencies, warm_s, spans.peak_rss_mb())
        t_measured = time.perf_counter()
        ck = workloads.Checks()
        for m in passes:
            w.check(spark, m, ck)
        ops = sum(len(m["latencies_ms"]) + len(m["report_s"]) for m in passes)
        m = passes[0]
        print(f"# run phases: inputs {t0 - t_start:.1f} s, session {t_session - t0:.1f} s, "
              f"{w.WARM_PASSES} warm-up passes {t0 + warm_s - t_session:.1f} s, "
              f"{len(passes)} measured passes {t_measured - t0 - warm_s:.1f} s, "
              f"checks {time.perf_counter() - t_measured:.1f} s")
        print(f"# {args.workload} seed={args.seed} cores={cores}: a pass drains {m['files']} "
              f"files, {m['rows']} rows ({m['committed']} committed) in "
              f"{len(m['latencies_ms'])} batches")
        for name in per_pass[0]:
            print(f"# per pass: {name} {[round(v[name], 4) for v in per_pass]}")
        print(f"# measured micro-batches (ms): {[round(t) for t in latencies]}")
        for name, unit in END_TO_END:
            note = (f" (upper quartile of {len(latencies)} batches)"
                    if name == "batch_tail_ms" else "")
            print(f"{name} = {e2e[name]:.4f} {unit}{note}")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}

        if args.trace:
            spark.stop()
            spark = None
            untraced = {"drain_s": statistics.median(p["drain_s"] for p in passes),
                        "batch_p50_ms": e2e["batch_p50_ms"], "report_s": e2e["report_s"]}
            layer, traced_ops = traced_pass(w, work, cores, inputs, untraced, ck)
            ops += traced_ops
            for name, unit in per_layer_names():
                print(f"{name} = {layer[name]:.4f} {unit}")
            metrics = {name: {"value": layer[name], "unit": unit}
                       for name, unit in per_layer_names()}

        failed = len(ck.failures)
        attempted = ops + ck.attempted
        for f in ck.failures:
            print(f"# CHECK FAILED: {f}")
        print(f"failed_share = {failed / attempted:.4f} ({failed} of {attempted} "
              f"operations and checks)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("landing_small_files", "landing_bulk", "corpus_near_dup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload clp|curate --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Each run is one process driving the engine on
``local[4]`` with a single client. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` also traces the timed work layer by layer and prints
the per-layer metrics instead. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under ``.bench_work/`` (removed at exit) and, for traced runs,
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "ops_per_s": "1/s",
}

_CURATE_LAYERS = ["text.profile", "dedup.exact", "dedup.minhash",
                  "dedup.ngram_jaccard", "dedup.keep", "curate.top_ngrams",
                  "curate.decontaminate"]
LAYERS = {
    # ingest (write path)
    "parse.wall_s": "s", "parse.cpu_s": "s", "parse.rows": "count",
    "enrich.dicts_wall_s": "s", "enrich.n_logtypes": "count",
    "enrich.n_vars": "count",
    "route.wall_s": "s", "route.shuffle_write_mb": "MB",
    "route.spill_mb": "MB", "route.task_skew": "ratio",
    "route.files": "count",
    "snapshots.stats_wall_s": "s", "snapshots.commit_wall_s": "s",
    "aggregate.wall_s": "s",
    "ingest.archive_mb": "MB", "ingest.compression_ratio": "x",
    "ingest.jobs": "count", "ingest.stages": "count",
    "pipeline.residual_s": "s",
    # search (read path)
    "grep.open_ms": "ms", "grep.plan_ms": "ms", "grep.exec_ms": "ms",
    "grep.cold_ms": "ms", "grep.rows_scanned": "count",
    "grep.match_ratio": "ratio", "snapshots.files_kept_ratio": "ratio",
    **{f"grep.{c}.p50_ms": "ms" for c in (
        "logtype", "dictvar", "intvar", "timerange", "count_by_time",
        "unpruned")},
    # curate (document operators)
    **{k: v for layer in _CURATE_LAYERS for k, v in (
        (f"{layer}_s", "s"), (f"{layer}.jobs", "count"),
        (f"{layer}.shuffle_write_mb", "MB"))},
    # both workloads
    "process.peak_rss_mb": "MB",
    "trace.attributed_ratio": "ratio", "trace.overhead_ratio": "ratio",
}

INGEST_SPANS = {"parse": "parse.wall_s", "enrich.dicts": "enrich.dicts_wall_s",
                "route": "route.wall_s",
                "snapshots.stats": "snapshots.stats_wall_s",
                "aggregate": "aggregate.wall_s",
                "snapshots.commit": "snapshots.commit_wall_s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["clp", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _sweep_stale(work_root: str) -> None:
    """Remove run dirs left by runs that were killed."""
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def _scratch_env(run_dir: str) -> None:
    """Keep every file the JVM, Spark, DuckDB and Python write inside the
    run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["CLPSPARK_LOCAL_DIR"] = (
        os.path.join(run_dir, "spark-local"))
    # every JVM the launch starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


def _start_spark(run_dir: str, trace: bool):
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from clpspark.session import get_spark

    return get_spark("perfbench", master="local[4]", shuffle_partitions=4,
                     extra_conf=extra)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "items_per_s": res.items / res.items_s,
        "ops_per_s": res.ops / res.ops_s,
    }


def layer_metrics(workload: str, res, cnt: dict) -> dict:
    """Per-layer metrics from the traced pass's spans and their event-log
    counters ``cnt``; layers the workload does not run read 0."""
    from perfbench.trace import MB, median

    tr = res.tracer
    out = {name: 0.0 for name in LAYERS}
    out.update({k: v for k, v in res.layers.items() if k in LAYERS})
    out["process.peak_rss_mb"] = res.peak_rss_mb
    top = [s for s in tr.spans if s.parent is None]
    layer_spans = [c for s in top for c in tr.children(s.id)] or top
    by_name = {s.name: s for s in layer_spans}

    if workload == "clp":
        ingest = next(s for s in top if s.name == "ingest")
        for name, metric in INGEST_SPANS.items():
            out[metric] = by_name[name].duration
        parse, route = by_name["parse"], by_name["route"]
        out["parse.cpu_s"] = cnt[parse.id].cpu_s
        out["parse.rows"] = cnt[parse.id].records_written
        out["enrich.n_logtypes"] = by_name["enrich.dicts"].attrs["n_logtypes"]
        out["enrich.n_vars"] = by_name["enrich.dicts"].attrs["n_vars"]
        out["route.shuffle_write_mb"] = cnt[route.id].shuffle_write_bytes / MB
        out["route.spill_mb"] = cnt[route.id].spill_bytes / MB
        out["route.task_skew"] = cnt[route.id].task_skew
        out["ingest.jobs"] = cnt[ingest.id].jobs
        out["ingest.stages"] = cnt[ingest.id].stages
        out["pipeline.residual_s"] = res.untraced["ingest"] - sum(
            c.duration for c in tr.children(ingest.id))

        def ms(prefix):
            return [s.duration * 1000 for s in tr.spans
                    if s.name.startswith(prefix)]

        execs = [s for s in tr.spans if s.name.startswith("grep.exec.")]
        out["grep.open_ms"] = median(ms("grep.open"))
        out["grep.plan_ms"] = median(ms("grep.plan."))
        out["grep.exec_ms"] = median(ms("grep.exec."))
        scanned = sum(cnt[s.id].records_read for s in execs)
        out["grep.rows_scanned"] = scanned
        out["grep.match_ratio"] = sum(
            s.attrs["matched"] for s in execs) / max(scanned, 1)
    else:
        for s in layer_spans:
            out[f"{s.name}_s"] = s.duration
            out[f"{s.name}.jobs"] = cnt[s.id].jobs
            out[f"{s.name}.shuffle_write_mb"] = (
                cnt[s.id].shuffle_write_bytes / MB)
    # attribution: the share of the traced pass's timed wall that named
    # layer spans cover; overhead: that wall against the untraced pass's
    if layer_spans is top:
        timed = top[-1].end - top[0].start
    else:
        timed = sum(s.duration for s in top)
    out["trace.attributed_ratio"] = sum(s.duration for s in layer_spans) / timed
    out["trace.overhead_ratio"] = timed / sum(res.untraced.values())
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clpspark", "pipeline.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.trace import find_event_log, read_event_log, span_counters

    work_root = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    _sweep_stale(work_root)
    run_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    _scratch_env(run_dir)
    prepare, run = workloads.WORKLOADS[args.workload]
    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), run_dir,
                        T0)
    spark = None
    try:
        # the Spark-free inputs and answers build while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(prepare, ctx)
            spark = ctx.spark = _start_spark(run_dir, ctx.trace)
            inputs = prepared.result()
        app_id = spark.sparkContext.applicationId
        res = run(ctx, inputs)
        _stop_spark(spark)
        spark = None
        e2e = end_to_end(res)
        if args.trace:
            jobs, stages = read_event_log(
                find_event_log(os.path.join(run_dir, "events"), app_id))
            cnt = span_counters(res.tracer.spans, jobs, stages)
            layers = layer_metrics(args.workload, res, cnt)
            metrics = {k: {"value": v, "unit": LAYERS[k]}
                       for k, v in layers.items()}
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                    "w") as f:
                spans = res.tracer.to_json()
                for s in spans:
                    s["counters"] = asdict(cnt[s["id"]])
                json.dump({"workload": args.workload, "seed": args.seed,
                           "end_to_end": e2e, "layers": layers,
                           "spans": spans}, f, indent=1)
        else:
            metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
        for k, (v, unit) in res.named.items():
            print(f"{k} = {v:.6g} {unit}")
        print(f"fail_rate = {res.failed / max(res.attempted, 1):.6g} ratio "
              f"({res.failed} of {res.attempted} operations)")
        for k, m in metrics.items():
            print(f"{k} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""CDC apply benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run starts one fresh Spark session,
and so one fresh JVM, at ``local[nproc]`` and sets the workload up once
(JVM launch, session start, input generation, table create/bootstrap: that
is ``setup_s``), measures, checks the committed state and every lookup
against the ``datagen`` oracles, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public calls in spans, records a Spark event log and reports the
per-layer metrics. The full record of a run (host, sample counts, gate
details, spans, event log) is written under ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("first_batch_s", "s"),
    ("steady_events_per_s", "events/s"),
    ("storage_amp", "ratio"),
    ("freshness_lag_p50_ms", "ms"),
    ("freshness_lag_p90_ms", "ms"),
    ("lookup_p50_ms", "ms"),
]

PER_LAYER = [
    ("log.max_lsn_ms", "ms"),
    ("log.head_lag_events", "events"),
    ("apply.batch_ms", "ms"),
    ("apply.pre_merge_ms", "ms"),
    ("apply.post_merge_ms", "ms"),
    ("apply.rejects", "count"),
    ("apply.dedup_ratio", "ratio"),
    ("table.merge_ms", "ms"),
    ("table.compact_ms", "ms"),
    ("table.compact_calls", "count"),
    ("table.snapshot_calls_per_window", "calls/window"),
    ("table.delta_groups_mean", "groups/bucket"),
    ("table.write_amp", "ratio"),
    ("ckpt.save_ms", "ms"),
    ("ckpt.saves", "count"),
    ("dag.window_ms", "ms"),
    ("dag.gate_ms", "ms"),
    ("dag.table_ms.region", "ms"),
    ("dag.table_ms.department", "ms"),
    ("dag.table_ms.commune", "ms"),
    ("spark.jobs_per_window", "jobs/window"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.task_busy_share", "ratio"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.root_coverage", "ratio"),
]


def start_session(event_log_dir: str | None, tmp_dir: str):
    """A fresh Spark session at ``local[nproc]``, started: Spark creates a
    session's SQL state (catalog, analyzer, optimizer, code generator)
    lazily, on its first query, so this runs a one-row query. Spark's, the
    JVM's and PySpark's scratch files go to ``tmp_dir`` (the process
    environment is set for the JVM that the session launches)."""
    import harness
    from french_admin_etl_spark.session import get_spark

    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    tempfile.tempdir = None
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = harness.nproc()
    spark = get_spark("perfbench", cores=n, shuffle_partitions=n, driver_memory="2g",
                      extra_conf=conf)
    spark.range(1).count()
    return spark


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        with open(f"/proc/{gw.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return 0.0


def shutdown_jvm() -> None:
    """Stop the Spark JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def delta_groups_sampler(table):
    def sample() -> float:
        snap = table.snapshot()
        return sum(1 for g in snap["file_groups"] if g.get("delta")) / snap["num_buckets"]
    return sample


def end_to_end(wl, setup_s: float) -> tuple[dict, dict]:
    """The user-facing numbers of one run plus their sample counts."""
    import harness

    win = wl.windows
    durs = [end - start for _lo, _hi, start, end in win]
    steady = win[1:] or win
    steady_t = sum(durs[1:]) if len(win) > 1 else sum(durs)
    steady_ev = sum(wl.events_in(lo, hi) for lo, hi, _s, _e in steady)
    lags, weights, uncommitted = [], [], 0
    for seg_hi, landed, rows in wl.segments:
        commit = next((end for _lo, hi, _s, end in win if hi >= seg_hi), None)
        if commit is None:
            uncommitted += 1
            continue
        lags.append((commit - landed) * 1000)
        weights.append(rows)
    lat = [(r["done"] - r["start"]) * 1000 for r in wl.lookups]
    file_b, live_b = wl.storage()
    values = {
        "setup_s": setup_s,
        "first_batch_s": durs[0] if durs else float("nan"),
        "steady_events_per_s": steady_ev / steady_t if steady_t else float("nan"),
        "storage_amp": file_b / live_b if live_b else float("nan"),
        "freshness_lag_p50_ms": harness.percentile(lags, 50, weights),
        "freshness_lag_p90_ms": harness.percentile(lags, 90, weights),
        "lookup_p50_ms": harness.percentile(lat, 50),
    }
    samples = {
        "setup_s": 1,
        "first_batch_s": 1 if durs else 0,
        "steady_windows": len(steady) if durs else 0,
        "steady_events": steady_ev,
        "freshness_segments": len(lags),
        "freshness_events": int(sum(weights)),
        "lookups": len(lat),
        "uncommitted_segments": uncommitted,
    }
    return values, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "french_admin_etl_spark")):
        print("perfbench: run from a checkout that holds the french_admin_etl_spark "
              "package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import oracle
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(HERE, "_out", tag)
    work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
    tmp = work + "-tmp"
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    event_log = os.path.join(out_dir, "eventlog") if args.trace else None
    probe_before = harness.mem_probe_gbps()
    cpu_before = harness.cpu_times()

    spark = None
    layer = None
    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds)
    try:
        t = time.monotonic()
        spark = start_session(event_log, tmp)
        wl.setup(spark, work)
        setup_s = time.monotonic() - t
        host = harness.host_record(spark)
        if args.trace:
            rec = spans.SpanRecorder(spark.sparkContext)
            restore = spans.install(rec)
            try:
                wl.measure(rec.span, delta_groups_sampler(wl.lookup_table))
            finally:
                spans.uninstall(restore)
        else:
            wl.measure()
        gate = wl.gate()
        values, samples = end_to_end(wl, setup_s)
        bad_lookups = oracle.check_lookups(wl.lookups, wl.history(), wl.key_width)
        if args.trace:
            write_amp = wl.write_bytes() / wl.log_bytes
            rss = jvm_peak_rss_mb()
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    cpu_after = harness.cpu_times()
    probe_after = harness.mem_probe_gbps()

    failed = len(wl.errors) + bad_lookups + samples["uncommitted_segments"]
    attempted = len(wl.windows) + len(wl.errors) + len(wl.lookups)
    correct = bool(gate["ok"]) and failed == 0
    if args.trace:
        layer = spans.layer_metrics(rec, wl.t0, wl.t1, wl.windows, wl.start_hi,
                                    event_log, harness.nproc())
        deltas = [r["sample"] for r in wl.lookups if "sample" in r]
        layer.update({
            "table.delta_groups_mean": sum(deltas) / len(deltas) if deltas else 0.0,
            "table.write_amp": write_amp,
            "jvm.peak_rss_mb": rss,
        })
        spans.dump(rec, os.path.join(out_dir, "spans.json"))
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "mem_probe_gbps": {"before": probe_before, "after": probe_after},
        "cpu_steal_share": harness.steal_share(cpu_before, cpu_after),
        "end_to_end": values, "per_layer": layer, "samples": samples,
        "windows": [(lo, hi, round(e - s, 4)) for lo, hi, s, e in wl.windows],
        "lookup_ms": [round((r["done"] - r["start"]) * 1000, 1) for r in wl.lookups],
        "gate": gate, "bad_lookups": bad_lookups, "errors": wl.errors,
        "failed_op_ratio": failed / attempted if attempted else 0.0,
    }
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("# " + json.dumps({"host": host, "mem_probe_gbps": record["mem_probe_gbps"],
                             "cpu_steal_share": record["cpu_steal_share"],
                             "samples": samples, "failed_op_ratio": record["failed_op_ratio"],
                             "gate": gate}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

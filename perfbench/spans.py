"""The traced run: an in-memory span recorder wrapped around the calls into
each layer's public functions, and a parser for the run's Spark event log.

Wrapping happens from the benchmark's side by replacing methods on the
engine's classes for the life of the traced process; the engine itself is
not changed. Every span tags the Spark jobs it submits with a job group
(``pb<span id>``), so the event log attributes jobs to spans. Jobs from
threads the engine starts itself (the DAG stage threads) carry no group
and are attributed to the innermost main-thread span open when they were
submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"
DESCRIPTION = "spark.job.description"


class SpanRecorder:
    """Spans are dicts: id, name, parent, window, thread, start, end (on the
    monotonic clock) plus call-specific attributes. They stay in memory
    until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.snapshot_calls: Counter = Counter()  # window id -> calls
        self.epoch_offset = time.time() - time.monotonic()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = iter(range(1, 1 << 62))
        self.main_thread = threading.main_thread().name

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current_window(self):
        stack = self._stack()
        return stack[-1]["window"] if stack else None

    @contextmanager
    def span(self, name: str, window=None, tag_jobs: bool = True):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "window": window if window is not None else (parent["window"] if parent else None),
            "thread": threading.current_thread().name,
        }
        prev = None
        if tag_jobs:
            prev = (self.sc.getLocalProperty(GROUP), self.sc.getLocalProperty(DESCRIPTION))
            self.sc.setJobGroup(f"pb{sid}", name)
        stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if tag_jobs:
                self.sc.setLocalProperty(GROUP, prev[0])
                self.sc.setLocalProperty(DESCRIPTION, prev[1])
            with self._lock:
                self.spans.append(rec)


def _wrap(rec: SpanRecorder, cls, attr: str, name: str, window_arg=None,
          on_result=None, tag_jobs: bool = True):
    orig = cls.__dict__[attr]

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        window = None
        if window_arg is not None:
            pos, kw = window_arg
            window = kwargs[kw] if kw in kwargs else args[pos]
        with rec.span(name, window=window, tag_jobs=tag_jobs) as s:
            out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, out)
            return out

    setattr(cls, attr, wrapper)
    return cls, attr, orig


def install(rec: SpanRecorder) -> list:
    """Wrap the layer entry points; returns what ``uninstall`` restores."""
    from french_admin_etl_spark.sources.event_log import LsnLog
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
    from french_admin_etl_spark.streaming.dag import DagApplyJob
    from french_admin_etl_spark.table.lake_table import LakeTable

    def batch_result(s, r):
        s.update(n_events=r.n_events, n_rejects=r.n_rejects)

    def merge_result(s, m):
        s.update(fenced=m.fenced, rows=0 if m.fenced else m.rows_upserted + m.rows_deleted)

    def window_result(s, w):
        s.update(gate_ms=w.gate_ms, table_ms={t: b.wall_ms for t, b in w.tables.items()
                                              if b.merge is not None and not b.merge.fenced})

    restore = [
        _wrap(rec, LsnLog, "max_lsn", "log.max_lsn",
              on_result=lambda s, r: s.update(result=r)),
        _wrap(rec, CDCApplyJob, "run_incremental", "loop.run_incremental"),
        _wrap(rec, DagApplyJob, "run_incremental", "loop.run_incremental"),
        _wrap(rec, CDCApplyJob, "apply_batch", "apply.batch", window_arg=(2, "batch_id"),
              on_result=batch_result),
        _wrap(rec, DagApplyJob, "apply_window", "dag.window", window_arg=(2, "batch_id"),
              on_result=window_result),
        _wrap(rec, LakeTable, "merge", "table.merge", on_result=merge_result),
        _wrap(rec, LakeTable, "compact", "table.compact"),
        _wrap(rec, CheckpointStore, "save", "ckpt.save", tag_jobs=False),
    ]
    snap_orig = LakeTable.__dict__["snapshot"]

    @functools.wraps(snap_orig)
    def snapshot(self, *args, **kwargs):
        w = rec.current_window()
        if w is not None:
            rec.snapshot_calls[w] += 1
        return snap_orig(self, *args, **kwargs)

    LakeTable.snapshot = snapshot
    restore.append((LakeTable, "snapshot", snap_orig))
    return restore


def uninstall(restore: list) -> None:
    for cls, attr, orig in restore:
        setattr(cls, attr, orig)


# ----------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Jobs ``{id: {submit_ms, group}}`` and task ends
    ``[{job, run_ms, shuffle_write, input}]`` from the Spark event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit_ms": ev["Submission Time"],
                        "group": (ev.get("Properties") or {}).get(GROUP),
                    }
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })
    return jobs, tasks


def attribute_jobs(rec: SpanRecorder, jobs: dict) -> dict[int, dict | None]:
    """Map each job to its span: by job group, else to the innermost
    main-thread span open at its submission time."""
    by_id = {s["id"]: s for s in rec.spans}
    main = sorted((s for s in rec.spans if s["thread"] == rec.main_thread),
                  key=lambda s: s["start"])
    out = {}
    for jid, j in jobs.items():
        g = j["group"]
        if g and g.startswith("pb") and int(g[2:]) in by_id:
            out[jid] = by_id[int(g[2:])]
            continue
        t = j["submit_ms"] / 1000 - rec.epoch_offset
        best = None
        for s in main:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        out[jid] = best
    return out


# ------------------------------------------------------------------- metrics

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(rec: SpanRecorder, t0: float, t1: float, windows: list, start_hi: int,
                  event_log_dir: str, cores: int) -> dict:
    """Per-layer numbers from the spans and the event log, restricted to
    the measured phase ``[t0, t1]``."""
    spans = [s for s in rec.spans if s["start"] >= t0 and s["end"] <= t1 + 1e-3]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1000

    def committed_at(t):
        hi = start_hi
        for lo, w_hi, _s, end in windows:
            if end <= t:
                hi = w_hi
        return hi

    out = {}
    out["log.max_lsn_ms"] = _median(dur_ms(s) for s in named["log.max_lsn"])
    out["log.head_lag_events"] = _median(
        s["result"] + 1 - committed_at(s["start"]) for s in named["log.max_lsn"]
    )
    batches = named["apply.batch"]
    pre, post, merged, valid = [], [], 0, 0
    for b in batches:
        merges = sorted((k for k in kids[b["id"]] if k["name"] == "table.merge"),
                        key=lambda k: k["start"])
        if merges:
            pre.append((merges[0]["start"] - b["start"]) * 1000)
            post.append((b["end"] - merges[-1]["end"]) * 1000)
        merged += sum(m.get("rows", 0) for m in merges)
        valid += b.get("n_events", 0) - b.get("n_rejects", 0)
    out["apply.batch_ms"] = _median(dur_ms(s) for s in batches)
    out["apply.pre_merge_ms"] = _median(pre)
    out["apply.post_merge_ms"] = _median(post)
    out["apply.rejects"] = sum(b.get("n_rejects", 0) for b in batches)
    out["apply.dedup_ratio"] = merged / valid if valid else 0.0
    out["table.merge_ms"] = _median(
        dur_ms(m) - sum(dur_ms(k) for k in kids[m["id"]] if k["name"] == "table.compact")
        for m in named["table.merge"]
    )
    out["table.compact_ms"] = _median(dur_ms(s) for s in named["table.compact"])
    out["table.compact_calls"] = len(named["table.compact"])
    n_windows = max(1, len(windows))
    out["table.snapshot_calls_per_window"] = sum(rec.snapshot_calls.values()) / n_windows
    saves = [s for s in named["ckpt.save"] if s["thread"] == rec.main_thread]
    out["ckpt.save_ms"] = _median(dur_ms(s) for s in saves)
    out["ckpt.saves"] = len(saves)
    dws = named["dag.window"]
    out["dag.window_ms"] = _median(dur_ms(s) for s in dws)
    out["dag.gate_ms"] = _median(s.get("gate_ms", 0.0) for s in dws)
    for table in ("region", "department", "commune"):
        out[f"dag.table_ms.{table}"] = _median(
            s["table_ms"][table] for s in dws if table in s.get("table_ms", {})
        )

    jobs, tasks = read_event_log(event_log_dir)
    owner = attribute_jobs(rec, jobs)
    lo_ms, hi_ms = (t0 + rec.epoch_offset) * 1000, (t1 + rec.epoch_offset) * 1000
    in_run = {j for j, info in jobs.items() if lo_ms <= info["submit_ms"] <= hi_ms}
    window_jobs = [j for j in in_run if owner.get(j) is not None and owner[j]["window"] is not None
                   and owner[j]["thread"] == rec.main_thread]
    out["spark.jobs_per_window"] = len(window_jobs) / n_windows
    run_tasks = [t for t in tasks if t["job"] in in_run]
    out["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in run_tasks)
    out["spark.input_bytes"] = sum(t["input"] for t in run_tasks)
    out["spark.task_busy_share"] = (
        sum(t["run_ms"] for t in run_tasks) / (cores * (t1 - t0) * 1000)
    )
    roots = [s for s in spans if s["parent"] is None and s["thread"] == rec.main_thread]
    out["trace.root_coverage"] = sum(dur_ms(s) for s in roots) / ((t1 - t0) * 1000)
    return out


def dump(rec: SpanRecorder, path: str) -> None:
    with open(path, "w") as fh:
        json.dump({"epoch_offset": rec.epoch_offset, "spans": rec.spans,
                   "snapshot_calls": dict(rec.snapshot_calls)}, fh)

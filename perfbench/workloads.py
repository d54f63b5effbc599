"""The CDC workloads, each driven through the engine's public API.

- ``cdc_backlog``: closed-loop drain of a pre-landed repos log (overwrite
  merge, MOR, lineage and dead-letter sinks on, poison rows injected).
- ``dag_fk``: closed-loop FK-ordered drain of a 3-table envelope log.

Both are closed loops: the whole log lands before the measured phase, so a
slower host takes longer instead of falling behind an arrival rate. Every
workload also reads the table it writes with point lookups, one after
another once the drain is done, so that each end-to-end metric is measured
on each workload and the reads do not perturb the drain timings. The logs
are sized from ``--seconds`` (events per second of run), so a run does a
fixed amount of work.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa

from french_admin_etl_spark import datagen
from french_admin_etl_spark.sources.envelope_log import MultiTableLog
from french_admin_etl_spark.sources.event_log import EventLog
from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA, CDCApplyJob
from french_admin_etl_spark.streaming.dag import DagApplyJob, FKEdge, FKViolation
from french_admin_etl_spark.table.lake_table import LakeTable

import harness
import oracle

EVENT_ARROW = pa.schema([
    ("lsn", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()), ("schema_version", pa.int32()),
    ("props", pa.string()),
])
ENVELOPE_ARROW = pa.schema([
    ("lsn", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
    ("table", pa.string()), ("payload", pa.string()), ("schema_version", pa.int32()),
    ("props", pa.string()),
])
REPO_COLS = [f.name for f in REPOS_SCHEMA.fields]


def _no_span(name, **_kw):
    return nullcontext()


def table_bytes(table: LakeTable, snap: dict | None = None) -> int:
    snap = snap or table.snapshot()
    return sum(os.path.getsize(os.path.join(table.root, f))
               for g in snap["file_groups"] for f in g["files"])


def new_file_bytes(table: LakeTable, since_version: int) -> int:
    """Bytes of the files first referenced by a snapshot after
    ``since_version``: what the measured phase wrote."""
    hist = table.history()
    old = {f for s in hist if s["version"] <= since_version
           for g in s["file_groups"] for f in g["files"]}
    new = {f for s in hist if s["version"] > since_version
           for g in s["file_groups"] for f in g["files"]} - old
    return sum(os.path.getsize(os.path.join(table.root, f)) for f in new)


class Workload:
    """Shared shape: ``setup`` makes the inputs and tables, ``measure`` runs
    the timed phase, ``gate`` checks the committed state against the
    oracle. ``span`` is the traced run's span factory (a no-op otherwise)."""

    name = ""
    closed_lookups = 15
    key_width = 2

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.seconds = seconds
        self.errors: list[str] = []
        self.lookups: list[dict] = []
        self.segments: list[tuple[int, float, int]] = []  # (hi, landed at, rows)
        self.log_bytes = 0

    # Subclasses provide setup(spark, workdir), measure(span, sample), gate(),
    # pick_keys(i, lo) and history(); setup sets tables, start_versions,
    # lookup_table, ckpt and start_hi, and gate sets _expected.

    def storage(self) -> tuple[int, int]:
        """Bytes the final snapshots reference, and the oracle's live bytes."""
        return (sum(table_bytes(t) for t in self.tables.values()),
                oracle.live_bytes(self._expected))

    def write_bytes(self) -> int:
        return sum(new_file_bytes(t, self.start_versions[n]) for n, t in self.tables.items())

    def _created(self) -> None:
        self.start_versions = {n: t.current_version() for n, t in self.tables.items()}

    def _land_all(self, log_dir: str, frame: pd.DataFrame, schema, n_segments: int):
        """Land the whole log as LSN-contiguous segments."""
        os.makedirs(log_dir, exist_ok=True)
        segs = [(hi, harness.write_segment(log_dir, i, t), t.num_rows)
                for i, (hi, t) in enumerate(harness.lsn_segments(frame, schema, n_segments))]
        self.log_bytes = sum(os.path.getsize(p) for _hi, p, _n in segs)
        self._prelanded = [(hi, n) for hi, _p, n in segs]
        self.log_lsns = np.sort(frame["lsn"].to_numpy())

    def _recent_key(self, valid: pd.DataFrame, key_cols: list[str], i: int, lo: int,
                    recent: int = 200) -> tuple:
        """A key written shortly before the committed prefix ``lo``."""
        lsn = valid["lsn"].to_numpy()
        b = max(1, int(np.searchsorted(lsn, lo)))
        a = max(0, b - recent)
        j = a + int(np.random.default_rng((self.seed, i)).integers(0, b - a))
        return tuple(valid[c].iat[j] for c in key_cols)

    def _drain(self, call, span, sample) -> None:
        """The measured phase: every segment is landed before the drain
        starts; the lookups follow the drain."""
        self.t0 = time.monotonic()
        self.ckpt.mark_call()
        try:
            call()
        except Exception as e:  # a raised window is a counted failure
            self.errors.append(repr(e))
        self.t1 = time.monotonic()
        self.segments = [(hi, self.t0, n) for hi, n in self._prelanded]
        self.windows = list(self.ckpt.windows)
        reader = harness.LookupReader(self.lookup_table.lookup, self.pick_keys, self.ckpt,
                                      sample=sample, span=span)
        self.lookups = reader.closed_loop(self.closed_lookups)

    def events_in(self, lo: int, hi: int) -> int:
        a, b = np.searchsorted(self.log_lsns, [lo, hi])
        return int(b - a)


class CdcBacklog(Workload):
    name = "cdc_backlog"
    events_per_s = 20_000
    # every window adds a delta group to each bucket, and inline compaction
    # fires at the engine's default of 8 of them: window 8 compacts, once
    windows_n = 8
    buckets = 32
    # an odd count puts the freshness p50 and p90 events mid-segment, away
    # from a window boundary that would flip them between two windows' ends
    n_segments = 15
    poison_rate = 0.005

    def setup(self, spark, wd: str) -> None:
        n = max(2_000, self.events_per_s * self.seconds)
        ev = datagen.gen_change_events(
            n_events=n, n_keys=max(500, n // 10), n_repos=max(50, n // 1000),
            seed=self.seed, delete_rate=0.05, duplicate_rate=0.02, shuffle_window=50,
        )
        rng = np.random.default_rng(self.seed)
        cand = np.flatnonzero(ev["op"].isin(["I", "U"]).to_numpy())
        k = max(1, int(len(ev) * self.poison_rate))
        bad = ev.iloc[np.sort(rng.choice(cand, size=k, replace=False))].copy()
        bad_op = rng.random(k) < 0.5
        bad.loc[bad.index[bad_op], "op"] = "X"
        bad.loc[bad.index[~bad_op], "content"] = None
        self.valid = ev.sort_values("lsn", kind="stable").reset_index(drop=True)
        self.n_poison = k
        self._land_all(os.path.join(wd, "log"), pd.concat([ev, bad], ignore_index=True),
                       EVENT_ARROW, self.n_segments)
        self.table = LakeTable.create(
            spark, os.path.join(wd, "repos"), REPOS_SCHEMA, KEYS, num_buckets=self.buckets,
            write_mode="mor",
        )
        self.dlq_dir = os.path.join(wd, "dead_letter")
        self.lineage_dir = os.path.join(wd, "lineage")
        self.job = CDCApplyJob(spark, self.table, dead_letter_dir=self.dlq_dir,
                               lineage_dir=self.lineage_dir)
        self.log = EventLog(spark, os.path.join(wd, "log"))
        self.ckpt = harness.TimedCheckpoint(os.path.join(wd, "ckpt.json"))
        self.lookup_table = self.table
        self.tables = {"repos": self.table}
        self.spark = spark
        self.start_hi = 0
        self._created()
        self.batch_lsns = -(-(int(self.valid["lsn"].max()) + 1) // self.windows_n)

    def pick_keys(self, i: int, lo: int) -> list[tuple]:
        return [self._recent_key(self.valid, KEYS, 2 * i + j, lo) for j in range(2)]

    def measure(self, span=_no_span, sample=None) -> None:
        self._drain(lambda: self.job.run_incremental(self.log, self.ckpt, self.batch_lsns),
                    span, sample)

    def history(self):
        return oracle.KeyHistory(self.valid, KEYS, "overwrite")

    def gate(self) -> dict:
        expected = oracle.frame_rows(datagen.expected_final_state(self.valid), REPO_COLS)
        actual = [tuple(r) for r in self.table.read().collect()]
        out = oracle.compare_rows(actual, expected)
        dlq = self.spark.read.parquet(self.dlq_dir).count()
        lin = self.spark.read.parquet(self.lineage_dir).selectExpr(
            "sum(rows_applied + rows_deleted) AS n").collect()[0]["n"]
        out.update(dead_letter_rows=dlq, poison_injected=self.n_poison,
                   lineage_events=int(lin or 0), valid_events=len(self.valid))
        out["ok"] = (out["missing"] == 0 and out["extra"] == 0 and dlq == self.n_poison
                     and out["lineage_events"] == len(self.valid))
        self._expected = expected
        return out


COG_SCHEMAS = {
    "region": [("code", "string"), ("name", "string")],
    "department": [("code", "string"), ("region_code", "string"), ("name", "string")],
    "commune": [("code", "string"), ("department_code", "string"), ("name", "string"),
                ("population", "long")],
}


class DagFk(Workload):
    name = "dag_fk"
    updates_per_s = 2_500
    # a window's wall is almost all fixed cost; four of them make the
    # freshness p50 the end of window 3 and the p90 the end of the drain
    windows_n = 4
    buckets = 16
    # inline compaction fires at this many delta groups per bucket; below
    # the engine default of 8 so that a short run still compacts, in
    # window 3, and window 4 leaves a delta group for the lookups to merge
    compact_after = 3
    # an odd count keeps the freshness p50 and p90 events mid-segment
    n_segments = 15
    key_width = 1

    def setup(self, spark, wd: str) -> None:
        from pyspark.sql import types as T

        n = max(500, self.updates_per_s * self.seconds)
        ev = datagen.gen_cog_events(n_regions=20, n_departments=200,
                                    n_communes=max(100, n // 10), n_updates=n, seed=self.seed)
        self.events = ev
        self._land_all(os.path.join(wd, "log"), ev, ENVELOPE_ARROW, self.n_segments)
        types = {"string": T.StringType(), "long": T.LongType()}
        self.tables = {
            name: LakeTable.create(
                spark, os.path.join(wd, name),
                T.StructType([T.StructField(c, types[t]) for c, t in cols]), ["code"],
                num_buckets=self.buckets, write_mode="mor",
                properties={"compact.max-delta-files": str(self.compact_after)},
            )
            for name, cols in COG_SCHEMAS.items()
        }
        self.dag = DagApplyJob(
            {name: CDCApplyJob(spark, t) for name, t in self.tables.items()},
            [FKEdge("department", "region_code", "region", "code"),
             FKEdge("commune", "department_code", "department", "code")],
            writer_id="bench",
        )
        self.log = MultiTableLog(spark, os.path.join(wd, "log"))
        self.ckpt = harness.TimedCheckpoint(os.path.join(wd, "ckpt.json"))
        self.lookup_table = self.tables["commune"]
        communes = ev[ev["table"] == "commune"].copy()
        communes["code"] = [json.loads(p)["code"] for p in communes["payload"]]
        self.communes = communes.sort_values("lsn", kind="stable").reset_index(drop=True)
        self.start_hi = 0
        self._created()
        self.batch_lsns = -(-(int(ev["lsn"].max()) + 1) // self.windows_n)

    def pick_keys(self, i: int, lo: int) -> list[tuple]:
        return [self._recent_key(self.communes, ["code"], i, lo)]

    def measure(self, span=_no_span, sample=None) -> None:
        self._drain(lambda: self.dag.run_incremental(self.log, self.ckpt, self.batch_lsns),
                    span, sample)

    def history(self):
        return oracle.KeyHistory(self.communes, ["code"], "payload",
                                 payload_cols=[c for c, _t in COG_SCHEMAS["commune"]])

    def gate(self) -> dict:
        exp = datagen.expected_cog_state(self.events)
        out = {"ok": True}
        self._expected = []
        for name, cols in COG_SCHEMAS.items():
            names = [c for c, _t in cols]
            frame = exp[name].astype({c: "int64" for c, t in cols if t == "long"})
            expected = oracle.frame_rows(frame, names)
            actual = [tuple(r) for r in self.tables[name].read().collect()]
            cmp = oracle.compare_rows(actual, expected)
            out[name] = cmp
            out["ok"] &= cmp["missing"] == 0 and cmp["extra"] == 0
            self._expected.extend(expected)
        try:
            out["deep_fk_check"] = self.dag.deep_fk_check()
        except FKViolation as e:
            out["deep_fk_check"] = repr(e)
            out["ok"] = False
        return out


WORKLOADS = {w.name: w for w in (CdcBacklog, DagFk)}

"""Measurement plumbing shared by the workloads.

Everything here sits outside the engine and drives it only through its
public API: a checkpoint store that timestamps the window protocol of
``run_incremental``, a lookup reader, log segment writing, percentiles
and the host record.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from french_admin_etl_spark.streaming.checkpoint import CheckpointStore


class TimedCheckpoint(CheckpointStore):
    """A ``CheckpointStore`` that timestamps ``run_incremental``'s windows.

    ``run_incremental`` (single-table and DAG) saves ``pending_hi`` right
    before it applies a window and ``next_lsn`` right after the window
    committed. So ``committed_hi`` is a lower bound and ``inflight_hi`` an
    upper bound of the LSN prefix a concurrent reader can see, and each
    committed window is recorded as ``(lo, hi, start, end)``.
    """

    def __init__(self, path: str):
        super().__init__(path)
        self.committed_hi = 0
        self.inflight_hi = 0
        self.windows: list[tuple[int, int, float, float]] = []
        self._call_start = 0.0

    def mark_call(self) -> None:
        """Note when ``run_incremental`` was called: a window starts at the later of
        this and the previous window's end."""
        self._call_start = time.monotonic()

    def save(self, state: dict) -> None:
        super().save(state)
        now = time.monotonic()
        if "pending_hi" in state:
            self.inflight_hi = max(self.inflight_hi, int(state["pending_hi"]))
            return
        lo, hi = self.committed_hi, int(state["next_lsn"])
        start = max(self._call_start, self.windows[-1][3] if self.windows else 0.0)
        self.windows.append((lo, hi, start, now))
        self.committed_hi = hi
        self.inflight_hi = max(self.inflight_hi, hi)

    def visible_bounds(self) -> tuple[int, int]:
        return self.committed_hi, max(self.committed_hi, self.inflight_hi)


def write_segment(log_dir: str, index: int, table: pa.Table) -> str:
    """Land one log segment atomically: write under a dot-name the log
    reader ignores, then rename into place."""
    final = os.path.join(log_dir, f"seg-{index:06d}.parquet")
    tmp = os.path.join(log_dir, f".seg-{index:06d}.parquet.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, final)
    return final


def lsn_segments(events, schema: pa.Schema, n_segments: int) -> list[tuple[int, pa.Table]]:
    """Cut an event frame into LSN-contiguous segments of equal LSN width.
    Returns ``(hi, table)`` pairs: segment i holds ``lo_i <= lsn < hi``.
    Redelivered copies share their LSN, so they share a segment."""
    ev = events.sort_values("lsn", kind="stable")
    lsn = ev["lsn"].to_numpy()
    lo_all, hi_all = int(lsn.min()), int(lsn.max()) + 1
    width = max(1, -(-(hi_all - lo_all) // n_segments))
    out = []
    for lo in range(lo_all, hi_all, width):
        hi = min(lo + width, hi_all)
        a, b = np.searchsorted(lsn, [lo, hi])
        part = ev.iloc[a:b]
        out.append((hi, pa.Table.from_pandas(part, schema=schema, preserve_index=False)))
    return out


class LookupReader:
    """Point reader: ``lookup(keys).collect()`` for keys written shortly
    before the committed prefix it saw, one lookup after another (closed
    loop). The visible-prefix bounds read before and after each lookup let
    the oracle check the rows afterwards.
    """

    def __init__(self, lookup, pick_keys, ckpt: TimedCheckpoint, sample=None, span=None):
        self.lookup = lookup
        self.span = span or (lambda name, **_kw: nullcontext())
        self.pick_keys = pick_keys
        self.ckpt = ckpt
        self.sample = sample
        self.records: list[dict] = []

    def closed_loop(self, n: int) -> list[dict]:
        for i in range(n):
            self._one(i)
        return list(self.records)

    def _one(self, i: int) -> None:
        lo, _ = self.ckpt.visible_bounds()
        keys = self.pick_keys(i, lo)
        rec = {"i": i, "keys": keys, "lo": lo}
        try:
            # the traced run's delta-group sample is taken outside the
            # timed interval, so the lookup latency it records is comparable
            if self.sample is not None:
                rec["sample"] = self.sample()
            rec["start"] = time.monotonic()
            with self.span("reader.lookup"):
                rows = self.lookup(keys).collect()
            rec["done"] = time.monotonic()
            rec["rows"] = [tuple(r) for r in rows]
        except Exception as e:  # a failed lookup is a counted failure
            rec["done"] = time.monotonic()
            rec.setdefault("start", rec["done"])
            rec["error"] = repr(e)
        rec["hi"] = self.ckpt.visible_bounds()[1]
        self.records.append(rec)


def percentile(values, q: float, weights=None) -> float:
    """Linear-interpolated percentile; ``weights`` repeats each value."""
    arr = np.asarray(values, dtype=float)
    if weights is not None:
        arr = np.repeat(arr, np.asarray(weights, dtype=int))
    return float(np.percentile(arr, q)) if arr.size else float("nan")


def mem_probe_gbps(seconds: float = 0.25, mbytes: int = 256) -> float:
    """Sustained memory-copy bandwidth, by the method of the repository's
    ``bench.mem_probe_gbps``: two 256 MB buffers, together larger than the
    last-level cache of the 4-core host this was tuned on (300 MiB), are
    faulted in untimed, then the timed loop copies in place. The timed
    loop is shorter than ``bench.py``'s 2 s to keep the probe cheap enough
    to bracket every run (under 1 s each, set-up included)."""
    n = mbytes * 1024 * 1024
    src = np.full(n, 7, dtype=np.uint8)
    dst = src.copy()
    t0 = time.monotonic()
    k = 0
    while time.monotonic() - t0 < seconds:
        np.copyto(dst, src)
        dst[0] ^= 1
        k += 1
    return round(k * n / 1e9 / (time.monotonic() - t0), 3)


def cpu_times() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``, all CPUs), in ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests: a shared host's slow stretches show
    here."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) > 0 else 0.0


def host_record(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "java": f"{jvm.System.getProperty('java.vendor')} {jvm.System.getProperty('java.version')}",
        "pyspark": pyspark.__version__,
        "spark_master": spark.sparkContext.master,
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))

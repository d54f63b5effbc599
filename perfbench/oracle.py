"""Oracle gates: compare what the engine committed with the ``datagen``
oracles.

Final tables are compared row by row through a sha256 digest over every
column. Point lookups are checked against the key's state at each LSN
prefix that could have been visible while the lookup ran.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter

import numpy as np
import pandas as pd

_NULL = "\x00"


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def row_digest(values) -> str:
    text = "\x1f".join(_NULL if v is None else str(v) for v in map(_norm, values))
    return hashlib.sha256(text.encode()).hexdigest()


def compare_rows(actual: list[tuple], expected: list[tuple]) -> dict:
    """Multiset comparison of two row lists by per-row digest."""
    a = Counter(row_digest(r) for r in actual)
    e = Counter(row_digest(r) for r in expected)
    return {
        "rows": sum(a.values()),
        "expected_rows": sum(e.values()),
        "missing": sum((e - a).values()),
        "extra": sum((a - e).values()),
    }


def frame_rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)]


def live_bytes(rows: list[tuple]) -> int:
    """UTF-8 bytes of every non-null value of the oracle's live rows."""
    return sum(len(str(v).encode()) for r in rows for v in r if v is not None)


def _sha(content):
    return hashlib.sha256(content.encode()).hexdigest() if content is not None else None


class KeyHistory:
    """Per-key state after each event, for checking reads at a prefix.

    ``mode`` is ``'overwrite'`` (the max-LSN event wins, a delete removes
    the key) or ``'payload'`` (envelope events: the max-LSN payload wins,
    projected to ``payload_cols``).
    """

    def __init__(self, events: pd.DataFrame, key_cols: list[str], mode: str,
                 payload_cols: list[str] | None = None):
        ev = events.sort_values("lsn", kind="stable").reset_index(drop=True)
        self.events = ev
        self.key_cols = key_cols
        self.mode = mode
        self.payload_cols = payload_cols or []
        self.index = ev.groupby(key_cols, sort=False).indices
        self._cache: dict = {}

    def _history(self, key) -> tuple[np.ndarray, list]:
        if key in self._cache:
            return self._cache[key]
        idx = self.index.get(key if len(self.key_cols) > 1 else key[0], [])
        rows = self.events.iloc[idx]
        lsns, states, cur = [], [], None
        for r in rows.to_dict("records"):
            if r["op"] == "D":
                cur = None
            elif self.mode == "payload":
                p = json.loads(r["payload"])
                cur = tuple(_norm(p.get(c)) for c in self.payload_cols)
            else:
                cur = (*key, r["commit"], r["lang"], r["content"], _sha(r["content"]))
            lsns.append(r["lsn"])
            states.append(cur)
        out = (np.asarray(lsns, dtype=np.int64), states)
        self._cache[key] = out
        return out

    def allowed(self, key, lo: int, hi: int) -> list:
        """States the key can show when the visible prefix is anywhere in
        ``[lo, hi]``: the state before ``lo`` plus the state after every
        event in ``[lo, hi)``."""
        lsns, states = self._history(key)
        a = int(np.searchsorted(lsns, lo, side="left"))
        b = int(np.searchsorted(lsns, hi, side="left"))
        out = [states[a - 1] if a else None]
        out.extend(states[a:b])
        return out


def check_lookups(records: list[dict], history: KeyHistory, key_width: int) -> int:
    """Count lookups whose rows disagree with every state the oracle
    allows at the prefixes they could have seen. A lookup that raised
    counts too."""
    bad = 0
    for rec in records:
        if "error" in rec:
            bad += 1
            continue
        got = {tuple(r[:key_width]): tuple(_norm(v) for v in r) for r in rec["rows"]}
        for key in rec["keys"]:
            allowed = history.allowed(tuple(key), rec["lo"], rec["hi"])
            if got.get(tuple(key)) not in allowed:
                bad += 1
                break
    return bad

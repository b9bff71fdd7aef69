"""numpy/pandas mirrors of the semantics the benchmark checks.

Each mirror restates the reference behaviour (FIXTURES.md §3) without
Spark, so a mismatch with the program's output is a program defect:

* store: first-match update/delete/get, key <- metadata.id, inclusive
  threshold, zero vectors and empty/NULL keys never scored, ties by
  ``ingest_seq``;
* scoring: the program's cosine is a left-to-right fold in double of
  float32 elements; ``np.cumsum`` folds in the same order, so mirror
  scores are bit-identical and a tie or threshold decision cannot flip;
* dedup: whitespace-split, lower-cased 3-word shingle sets and exact
  Jaccard;
* streaming: tumbling-window counts and gap sessions computed in batch.
"""

from __future__ import annotations

import json
import math
import re

import numpy as np
import pandas as pd

# --- scoring ---------------------------------------------------------------


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product of float64 views, summed left to right."""
    prod = np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64)
    return np.cumsum(prod, axis=-1)[..., -1]


def cosine(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``mat`` with ``q``; NaN where a norm is 0
    (the program yields NULL there, and both are excluded)."""
    mat = np.atleast_2d(np.asarray(mat, dtype=np.float64))
    q = np.asarray(q, dtype=np.float64)
    dot = fold_dot(mat, q[None, :])
    denom = np.sqrt(fold_dot(mat, mat)) * math.sqrt(fold_dot(q, q))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0.0, dot / denom, np.nan)


def topk(mat: np.ndarray, ids, q: np.ndarray, k: int, min_score: float = 0.0, tie=None):
    """``[(id, raw_score)]`` best first; ties by ``tie`` (default: id)."""
    s = cosine(mat, q)
    keep = np.nonzero(~np.isnan(s) & (s >= min_score))[0]
    tie = ids if tie is None else tie
    order = sorted(keep, key=lambda i: (-s[i], tie[i]))[: max(k, 0)]
    return [(ids[i], float(s[i])) for i in order]


# --- store -------------------------------------------------------------------


class StoreMirror:
    """The reference store as a list of rows with ``ingest_seq``; list
    position is seq order, so "first match" is the lowest seq."""

    def __init__(self):
        self.rows: list[dict] = []

    def _max_seq(self) -> int:
        return max((r["ingest_seq"] for r in self.rows), default=0)

    def _first(self, collection, key):
        best = None
        if key is None:
            return None
        for r in self.rows:
            if r["collection"] == collection and r["key"] == key:
                if best is None or r["ingest_seq"] < best["ingest_seq"]:
                    best = r
        return best

    def upsert(self, records: list[dict]) -> None:
        """Batched InsertOrUpdate: key <- metadata.id, the last occurrence
        of a key in the batch wins, an existing key updates its first
        match in place (seq kept), new keys append with seqs after the
        global max in (collection, key) order, NULL keys first."""
        batch: dict = {}
        for rec in records:
            meta = rec.get("metadata")
            try:
                key = json.loads(meta).get("id") if meta is not None else None
            except (ValueError, AttributeError):
                key = None
            batch[(rec["collection"], key)] = dict(rec, key=key)
        fresh = []
        for (c, key), rec in batch.items():
            hit = self._first(c, key)
            if hit is not None:
                hit.update(metadata=rec["metadata"], embedding=rec["embedding"], ts=rec["ts"])
            else:
                fresh.append(rec)
        base = self._max_seq()
        fresh.sort(key=lambda r: (r["collection"], r["key"] is not None, r["key"] or ""))
        for n, rec in enumerate(fresh, start=1):
            self.rows.append(
                dict(
                    collection=rec["collection"],
                    key=rec["key"],
                    metadata=rec["metadata"],
                    embedding=rec["embedding"],
                    ts=rec["ts"],
                    ingest_seq=base + n,
                )
            )

    def delete_batch(self, collection: str, keys) -> None:
        """Remove the first match of each listed key; later duplicates
        survive, NULL keys are never listed."""
        doomed = {id(r) for r in (self._first(collection, k) for k in set(keys)) if r is not None}
        self.rows = [r for r in self.rows if id(r) not in doomed]

    def get(self, collection: str, key: str):
        return self._first(collection, key)

    def keys(self, collection: str) -> list[str]:
        rows = sorted(
            (r for r in self.rows if r["collection"] == collection and r["key"]),
            key=lambda r: r["ingest_seq"],
        )
        return [r["key"] for r in rows]

    def search(self, collection: str, query, k: int, min_score: float = 0.0):
        """``[(row, raw_score)]``: the inclusive-threshold top-k over
        scoreable rows, best first, ties by ingest_seq."""
        if k <= 0:
            return []
        q = np.asarray(query, dtype=np.float64)
        cand = [
            r
            for r in self.rows
            if r["collection"] == collection
            and r["key"]
            and r["embedding"] is not None
            and len(r["embedding"]) == len(q)
        ]
        if not cand:
            return []
        mat = np.stack([r["embedding"] for r in cand])
        hits = topk(mat, list(range(len(cand))), q, k, min_score, tie=[r["ingest_seq"] for r in cand])
        return [(cand[i], s) for i, s in hits]

    def snapshot(self) -> list[tuple]:
        return sorted(row_tuple(r) for r in self.rows)


def row_tuple(r) -> tuple:
    """Comparable form of a store row (mirror dict or Spark Row)."""
    emb = r["embedding"]
    emb = None if emb is None else tuple(np.asarray(emb, dtype=np.float32).tolist())
    ts = r["ts"]
    ts = None if ts is None else pd.Timestamp(ts).value
    key = r["key"]
    return (r["collection"], key is None, key or "", r["metadata"], emb, ts, int(r["ingest_seq"]))


# --- dedup -------------------------------------------------------------------

# Java's \s (the program splits with F.split-compatible whitespace)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
SHINGLE_N = 3


def shingles(text: str | None, n: int = SHINGLE_N) -> frozenset:
    toks = [w for w in _WS.split((text or "").lower()) if w]
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


# --- streaming ---------------------------------------------------------------

WINDOW_US = 10 * 60 * 1_000_000
WATERMARK_US = 30 * 60 * 1_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000


def final_watermark_us(events: pd.DataFrame) -> int:
    """Event-time watermark after all input: max event time, truncated
    to milliseconds as Spark tracks it, minus the delay."""
    return int(events.ts.max()) // 1000 * 1000 - WATERMARK_US


def window_counts(events: pd.DataFrame) -> dict:
    """``{(window_start_us, event_type): (n_events, sum_value)}`` for
    every window the final watermark has closed."""
    wm = final_watermark_us(events)
    ev = events.assign(w=events.ts // WINDOW_US * WINDOW_US)
    out = {}
    for (w, et), g in ev.groupby(["w", "event_type"]):
        if w + WINDOW_US <= wm:
            out[(int(w), et)] = (len(g), round(float(g.value.sum()), 2))
    return out


def sessions(events: pd.DataFrame) -> list[dict]:
    """Batch gap sessions: per user, ordered by (ts, event_id), a gap
    strictly over ``SESSION_GAP_US`` starts a new session."""
    out = []
    for uid, g in events.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        ts, vals = g.ts.to_numpy(), g.value.to_numpy()
        cut = np.nonzero(np.diff(ts) > SESSION_GAP_US)[0] + 1
        bounds = [0, *cut.tolist(), len(ts)]
        for j in range(len(bounds) - 1):
            lo, hi = bounds[j], bounds[j + 1]
            out.append(
                dict(
                    user_id=int(uid),
                    start_us=int(ts[lo]),
                    end_us=int(ts[hi - 1]),
                    n_events=hi - lo,
                    sum_value=round(float(vals[lo:hi].sum()), 2),
                    closed_by_gap=j < len(bounds) - 2,
                )
            )
    return out


def check_sessions(got: list[tuple], events: pd.DataFrame) -> list[str]:
    """Compare emitted sessions with the batch computation.  Every
    emitted session must be a batch session; a session followed by a gap,
    or whose gap deadline the final watermark passed by a second, must be
    emitted; one whose deadline is a second or more past the watermark
    must still be open."""
    wm_ms = final_watermark_us(events) // 1000
    want = {(s["user_id"], s["start_us"], s["end_us"], s["n_events"]): s for s in sessions(events)}
    errs = []
    seen = set()
    for uid, start, end, n, total in got:
        key = (uid, start, end, n)
        s = want.get(key)
        if s is None or abs(s["sum_value"] - total) > 1e-6:
            errs.append(f"unexpected session {key} sum={total}")
        elif key in seen:
            errs.append(f"session emitted twice {key}")
        seen.add(key)
    for key, s in want.items():
        deadline_ms = (s["end_us"] + SESSION_GAP_US) // 1000
        must = s["closed_by_gap"] or deadline_ms < wm_ms - 1000
        must_not = not s["closed_by_gap"] and deadline_ms > wm_ms + 1000
        if must and key not in seen:
            errs.append(f"missing session {key}")
        if must_not and key in seen:
            errs.append(f"session emitted before its deadline {key}")
    return errs

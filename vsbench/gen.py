"""Seeded input generation for every workload.

Each ``gen_<workload>(seed, out_dir)`` writes the workload's inputs as
plain files under ``out_dir`` and returns a small JSON-able spec naming
them.  Everything derives from ``numpy.random.default_rng(seed)`` (with a
per-workload stream id), so the same seed gives byte-identical files.
The benchmark hands the program only these files.
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from vsbench import mirror

# --- sizes: one place, recorded in BENCHMARK.json's workload notes --------

CRUD = dict(
    n_seed=2000, dim=64, n_ops=100, upsert_rows=10, delete_keys=4,
)
COLLECTIONS = ["coll_00", "coll_01", "coll_02", "coll_03", "coll_04"]
SKEW = [0.50, 0.25, 0.12, 0.08, 0.05]
# one block of the crud op stream: 40 % search, 30 % get, 20 % upsert,
# 10 % delete_batch, interleaved
BLOCK = ["search", "get", "upsert", "search", "get", "delete", "search", "get", "upsert", "search"]

IVF = dict(n=2000, dim=128, clusters=16, queries=16, append=200, k=10, spread=2.0)

DEDUP = dict(n_base=600, batches=1, batch_docs=100, template_frac=0.03)
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer the join dup"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

STREAM = dict(rows=1600, users=40)
STREAM_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000

_TS0 = pd.Timestamp("2026-01-01T00:00:00")
# random streams, one per generator (``ingest`` draws from the last two)
_STREAM_IDS = {"crud_mixed": 1, "ivf_batch": 2, "dedup_ingest": 3, "stream_window": 4}


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAM_IDS[workload]])


def _write(table: pa.Table, out: str, name: str) -> str:
    """Write ``table`` to ``out/name``; specs name files relative to
    ``out`` so the same seed gives the same spec in any directory."""
    pq.write_table(table, os.path.join(out, name), compression="snappy")
    return name


# ---------------------------------------------------------------------------
# crud_mixed
# ---------------------------------------------------------------------------

_RECORD_SCHEMA = pa.schema(
    [
        ("collection", pa.string()),
        ("key", pa.string()),
        ("metadata", pa.string()),
        ("embedding", pa.list_(pa.float32())),
        ("ts", pa.timestamp("us")),
    ]
)


def _vector(rng: np.random.Generator, dim: int) -> np.ndarray:
    v = rng.standard_normal(dim)
    v *= rng.uniform(0.5, 2.0) / np.linalg.norm(v)
    return v.astype(np.float32)


def _metadata(rng: np.random.Generator, key: str) -> str:
    words = rng.choice(VOCAB, size=int(rng.integers(4, 12)))
    return json.dumps(
        {
            "is_reference": bool(rng.random() < 0.2),
            "external_source_name": "fixture",
            "id": key,
            "description": " ".join(words[:3]),
            "text": " ".join(words),
            "additional_metadata": "",
        }
    )


def _records_table(recs: list[dict]) -> pa.Table:
    return pa.table(
        {
            "collection": [r["collection"] for r in recs],
            "key": [r["key"] for r in recs],
            "metadata": [r["metadata"] for r in recs],
            "embedding": [r["embedding"].tolist() for r in recs],
            "ts": [r["ts"].to_pydatetime() for r in recs],
        },
        schema=_RECORD_SCHEMA,
    )


def gen_crud_mixed(seed: int, out: str) -> dict:
    """Seed store records plus an op stream of search / get / upsert /
    delete_batch.  Keys an op targets are chosen against the store state
    the ops before it leave, tracked with the reference mirror."""
    p = CRUD
    rng = _rng(seed, "crud_mixed")
    dim = p["dim"]
    seed_recs = []
    counts = np.floor(np.array(SKEW) * p["n_seed"]).astype(int)
    counts[0] += p["n_seed"] - counts.sum()
    seq = 0
    for c, n in zip(COLLECTIONS, counts):
        for _ in range(n):
            key = f"{c}-k{seq:06d}"
            seed_recs.append(
                dict(
                    collection=c,
                    key=key,
                    metadata=_metadata(rng, key),
                    embedding=_vector(rng, dim),
                    ts=_TS0 + pd.Timedelta(seconds=seq),
                )
            )
            seq += 1
    spec = {"seed_file": _write(_records_table(seed_recs), out, "seed.parquet")}
    store = mirror.StoreMirror()
    store.upsert(seed_recs)

    ops = []
    fresh = 0
    # A run reaches only a short prefix of the stream, so the op kinds and
    # the collections they hit follow fixed schedules and only the content
    # varies with the seed: a prefix has the same mix on every seed.
    picks = {kind: _skew_schedule() for kind in set(BLOCK)}
    n_search = itertools.count()
    for i in range(p["n_ops"]):
        kind = BLOCK[i % len(BLOCK)]
        c = next(picks[kind])
        live = store.keys(c)
        if kind == "search":
            j = next(n_search)
            # 3 in 5 queries perturb a stored vector, 2 are fresh; k and
            # min_score cycle through all six combinations
            if live and j % 5 in (0, 2, 3):
                base = store.get(c, live[int(rng.integers(len(live)))])["embedding"]
                q = base.astype(np.float64) + rng.normal(0, 0.15 / np.sqrt(dim), dim) * np.linalg.norm(base)
            else:
                q = rng.standard_normal(dim)
            ops.append(
                dict(
                    op="search",
                    collection=c,
                    query=[float(x) for x in q],
                    k=(1, 10, 100)[j % 3],
                    min_score=(0.0, 0.6)[j % 2],
                )
            )
        elif kind == "get":
            if live and rng.random() < 0.7:
                key = live[int(rng.integers(len(live)))]
            else:
                key = f"{c}-missing{int(rng.integers(10**6)):06d}"
            ops.append(dict(op="get", collection=c, key=key))
        elif kind == "upsert":
            n_upd = min(p["upsert_rows"] // 2, len(live))
            upd_keys = [live[j] for j in rng.choice(len(live), n_upd, replace=False)] if n_upd else []
            new_keys = []
            for _ in range(p["upsert_rows"] - n_upd):
                new_keys.append(f"{c}-n{seed % 1000:03d}{fresh:05d}")
                fresh += 1
            recs = []
            for j, key in enumerate(upd_keys + new_keys):
                # ~1 in 5 rows carries a decoy key: the store must key the
                # row by metadata.id
                given = f"decoy-{i}-{j}" if rng.random() < 0.2 else key
                recs.append(
                    dict(
                        collection=c,
                        key=given,
                        metadata=_metadata(rng, key),
                        embedding=_vector(rng, dim),
                        ts=_TS0 + pd.Timedelta(seconds=10**6 + i * 100 + j),
                    )
                )
            path = _write(_records_table(recs), out, f"upsert_{i:04d}.parquet")
            store.upsert(recs)
            ops.append(dict(op="upsert", collection=c, file=path, user_bytes=_user_bytes(recs)))
        else:
            keys = []
            for _ in range(p["delete_keys"]):
                if live and rng.random() < 0.7:
                    keys.append(live[int(rng.integers(len(live)))])
                else:
                    keys.append(f"{c}-gone{int(rng.integers(10**6)):06d}")
            store.delete_batch(c, keys)
            ops.append(dict(op="delete_batch", collection=c, keys=keys))
    spec["ops_file"] = "ops.json"
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(ops, f)
    spec["dim"] = dim
    return spec


def _skew_schedule():
    """Collections in smooth weighted round-robin order: every prefix
    follows ``SKEW`` as closely as whole picks allow."""
    credit = [0.0] * len(COLLECTIONS)
    while True:
        credit = [c + w for c, w in zip(credit, SKEW)]
        j = max(range(len(credit)), key=lambda i: credit[i])
        credit[j] -= 1.0
        yield COLLECTIONS[j]


def _user_bytes(recs: list[dict]) -> int:
    """Logical payload of an upsert batch: key, metadata and embedding
    bytes plus an 8-byte timestamp per row."""
    return sum(
        len(r["key"].encode()) + len(r["metadata"].encode()) + 4 * len(r["embedding"]) + 8
        for r in recs
    )


def read_records(path: str) -> list[dict]:
    """Inverse of ``_records_table``: the mirror's view of an input file."""
    t = pq.read_table(path).to_pydict()
    return [
        dict(
            collection=t["collection"][i],
            key=t["key"][i],
            metadata=t["metadata"][i],
            embedding=np.asarray(t["embedding"][i], dtype=np.float32),
            ts=pd.Timestamp(t["ts"][i]),
        )
        for i in range(len(t["key"]))
    ]


# ---------------------------------------------------------------------------
# ivf_batch
# ---------------------------------------------------------------------------


def gen_ivf_batch(seed: int, out: str) -> dict:
    """Gaussian-mixture corpus, query set drawn from the same mixture, and
    an append batch with fresh ids."""
    p = IVF
    rng = _rng(seed, "ivf_batch")
    dim, c = p["dim"], p["clusters"]
    centers = rng.standard_normal((c, dim))

    def draw(n):
        lab = rng.integers(0, c, n)
        return (centers[lab] + p["spread"] * rng.standard_normal((n, dim))).astype(np.float32)

    def table(ids, x, id_name):
        return pa.table(
            {id_name: pa.array(ids, pa.int64()), "embedding": [row.tolist() for row in x]},
            schema=pa.schema([(id_name, pa.int64()), ("embedding", pa.list_(pa.float32()))]),
        )

    n, m = p["n"], p["append"]
    return {
        "corpus_file": _write(table(np.arange(n), draw(n), "vec_id"), out, "corpus.parquet"),
        "append_file": _write(table(np.arange(n, n + m), draw(m), "vec_id"), out, "append.parquet"),
        "queries_file": _write(
            table(np.arange(p["queries"]), draw(p["queries"]), "query_id"), out, "queries.parquet"
        ),
        "k": p["k"],
    }


# ---------------------------------------------------------------------------
# dedup_ingest
# ---------------------------------------------------------------------------


def _doc(rng: np.random.Generator, lo: int = 10, hi: int = 100) -> list[str]:
    return list(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def _mutate(rng: np.random.Generator, words: list[str], n_changes: int) -> list[str]:
    """Replace ``n_changes`` words at distinct positions with a word that
    differs from the original."""
    out = list(words)
    for pos in rng.choice(len(out), size=min(n_changes, len(out)), replace=False):
        choices = [w for w in VOCAB if w != out[pos]]
        out[pos] = choices[int(rng.integers(len(choices)))]
    return out


def _near_copy(rng, src: list[str], above: bool) -> list[str]:
    """A copy of ``src`` whose shingle Jaccard with it lands clearly above
    (0.68+) or clearly below (<0.52) the 0.6 threshold; retried until it
    does."""
    while True:
        n = len(src)
        k = max(1, int(rng.integers(1, max(2, n // 25) + 1))) if above else int(rng.integers(n // 8 + 2, n // 4 + 3))
        cand = _mutate(rng, src, k)
        j = mirror.jaccard(mirror.shingles(" ".join(src)), mirror.shingles(" ".join(cand)))
        if (above and j >= 0.68) or (not above and 0.2 <= j < 0.52):
            return cand


def gen_dedup_ingest(seed: int, out: str) -> dict:
    """Base corpus with planted near-dup families on both sides of the 0.6
    threshold, exact duplicates and a shared boilerplate template; daily
    batches that near-copy, exactly copy, or are fresh."""
    p = DEDUP
    rng = _rng(seed, "dedup_ingest")
    template = _doc(rng, 30, 30)
    docs: list[list[str]] = []
    planted_within: list[tuple[int, int]] = []  # (a, b) expected J >= 0.6
    while len(docs) < p["n_base"]:
        r = rng.random()
        if docs and r < 0.10:
            src = int(rng.integers(len(docs)))
            docs.append(_near_copy(rng, docs[src], above=True))
            planted_within.append((src, len(docs) - 1))
        elif docs and r < 0.16:
            src = int(rng.integers(len(docs)))
            docs.append(_near_copy(rng, docs[src], above=False))
        elif docs and r < 0.20:
            docs.append(list(docs[int(rng.integers(len(docs)))]))
        elif r < 0.20 + p["template_frac"]:
            docs.append(template + _doc(rng, 40, 70))
        else:
            docs.append(_doc(rng))
    base_ids = np.arange(len(docs))
    batches = []
    planted_cross: list[tuple[int, int]] = []  # (new_id, hist_id)
    next_id = len(docs)
    hist = list(docs)
    for b in range(p["batches"]):
        bd, ids = [], []
        for _ in range(p["batch_docs"]):
            r = rng.random()
            src = int(rng.integers(len(hist)))
            if r < 0.15:
                bd.append(_near_copy(rng, hist[src], above=True))
                planted_cross.append((next_id, src))
            elif r < 0.22:
                bd.append(_near_copy(rng, hist[src], above=False))
            elif r < 0.27:
                bd.append(list(hist[src]))
            elif r < 0.27 + p["template_frac"]:
                bd.append(template + _doc(rng, 40, 70))
            else:
                bd.append(_doc(rng))
            ids.append(next_id)
            next_id += 1
        hist.extend(bd)
        batches.append(_write(_docs_table(ids, bd, rng), out, f"batch_{b:02d}.parquet"))
    spec = {
        "base_file": _write(_docs_table(base_ids, docs, rng), out, "base.parquet"),
        "batch_files": batches,
        "planted_within": planted_within,
        "planted_cross": planted_cross,
    }
    return spec


def _docs_table(ids, docs: list[list[str]], rng) -> pa.Table:
    texts = [" ".join(d) for d in docs]
    return pa.table(
        {
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": texts,
            "lang": list(rng.choice(LANGS, size=len(texts), p=LANG_P)),
            "source": [f"src{int(i) % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def read_docs(path: str) -> dict[int, str]:
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


# ---------------------------------------------------------------------------
# stream_window
# ---------------------------------------------------------------------------


def gen_stream_window(seed: int, out: str) -> dict:
    """One hour of events in one file, in event-time order.  A stream
    reading it one file per trigger runs one data micro-batch, then one
    without data that advances the watermark and evicts state."""
    p = STREAM
    rng = _rng(seed, "stream_window")
    os.makedirs(os.path.join(out, "events"))
    n = p["rows"]
    # users are active in bursts: a user's events cluster in a random
    # sub-window of the hour, so 30-minute session gaps occur
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": (STREAM_T0_US + np.sort(rng.integers(0, HOUR_US, n))).astype(np.int64),
            "user_id": rng.integers(0, p["users"], n).astype(np.int64),
            "event_type": rng.choice(["click", "view", "error", "buy"], n),
            "value": np.round(rng.uniform(0, 50, n), 2),
            "props": [json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n)],
        }
    )
    # thin some users so sessions split on the 30-minute gap
    quiet = df["user_id"] % 4 == 0
    df = df[~quiet | (rng.random(n) < 0.08)].reset_index(drop=True)
    path = _write(pa.Table.from_pandas(df, preserve_index=False), out, "events/part-000.parquet")
    return {"events_dir": "events", "event_files": [path]}


def gen_ingest(seed: int, out: str) -> dict:
    """The documents of the dedup part and the event file of the
    streaming part, side by side."""
    return {**gen_dedup_ingest(seed, out), **gen_stream_window(seed, out)}


GENERATORS = {
    "crud_mixed": gen_crud_mixed,
    "ivf_batch": gen_ivf_batch,
    "ingest": gen_ingest,
}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)

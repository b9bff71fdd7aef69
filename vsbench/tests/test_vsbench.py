"""Self-tests of the benchmark: seeded inputs, the mirrors, metric names.

    python3 -m pytest vsbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from vsbench import gen, metrics, mirror

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a == b
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert fa and fa == fb
    assert _files(str(tmp_path / "c")) != fa


# --- the store mirror on a tiny quirk store (FIXTURES.md §3) ---------------


def _rec(c, key, emb, meta_id=None, ts=0):
    meta = json.dumps({"id": key if meta_id is None else meta_id})
    return dict(collection=c, key=key, metadata=meta, embedding=np.asarray(emb, dtype=np.float32),
                ts=pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=ts))


def _row(c, key, emb, seq):
    r = _rec(c, key, emb)
    r["ingest_seq"] = seq
    return r


def _quirk_store() -> mirror.StoreMirror:
    m = mirror.StoreMirror()
    m.rows = [
        _row("c", "dup", [1, 0, 0], 1),
        _row("c", "dup", [0, 1, 0], 2),
        _row("c", "dup", [0, 0, 1], 3),
        _row("c", "", [1, 0, 0], 4),
        _row("c", None, [1, 0, 0], 5),
        _row("c", "zero", [0, 0, 0], 6),
        _row("c", "empty", [], 7),
        _row("c", "tie_a", [1, 1, 0], 8),
        _row("c", "tie_b", [1, 1, 0], 9),
    ]
    return m


def test_mirror_first_match_update_get_delete():
    m = _quirk_store()
    assert m.get("c", "dup")["ingest_seq"] == 1
    m.upsert([_rec("c", "dup", [5, 5, 5])])
    dups = sorted((r["ingest_seq"], r["embedding"].tolist()) for r in m.rows if r["key"] == "dup")
    assert dups == [(1, [5, 5, 5]), (2, [0, 1, 0]), (3, [0, 0, 1])]
    m.delete_batch("c", ["dup", "dup", "missing"])
    assert [r["ingest_seq"] for r in m.rows if r["key"] == "dup"] == [2, 3]


def test_mirror_key_comes_from_metadata_id():
    m = mirror.StoreMirror()
    m.upsert([_rec("c", "decoy", [1, 2, 3], meta_id="real")])
    assert m.get("c", "decoy") is None
    assert m.get("c", "real")["ingest_seq"] == 1


def test_mirror_inserts_take_seqs_after_global_max_in_key_order():
    m = _quirk_store()
    m.upsert([_rec("c", "zz", [1, 0, 0]), _rec("c", "aa", [1, 0, 0]), _rec("b", "mm", [1, 0, 0])])
    seqs = {r["key"]: r["ingest_seq"] for r in m.rows if r["key"] in ("zz", "aa", "mm")}
    assert seqs == {"mm": 10, "aa": 11, "zz": 12}


def test_mirror_search_excludes_unscoreable_and_breaks_ties_by_seq():
    m = _quirk_store()
    hits = m.search("c", [1.0, 1.0, 0.0], k=100)
    keys = [r["key"] for r, _ in hits]
    assert keys[:2] == ["tie_a", "tie_b"]
    assert not {"", None, "zero", "empty"} & set(keys)


def test_mirror_threshold_is_inclusive():
    m = _quirk_store()
    q = [0.3, 0.9, 0.1]
    s = dict((r["key"], v) for r, v in m.search("c", q, k=100))["tie_a"]
    assert "tie_a" in [r["key"] for r, _ in m.search("c", q, 100, min_score=s)]
    assert "tie_a" not in [r["key"] for r, _ in m.search("c", q, 100, min_score=np.nextafter(s, 2))]


def test_cosine_folds_left_to_right():
    rng = np.random.default_rng(0)
    a = rng.standard_normal(64).astype(np.float32)
    q = rng.standard_normal(64)
    acc = aa = qq = 0.0
    for x, y in zip(a.astype(float), q):
        acc += x * y
        aa += x * x
        qq += y * y
    assert mirror.cosine(a, q)[0] == acc / (np.sqrt(aa) * np.sqrt(qq))


def test_tail_is_the_eleventh_largest_sample():
    assert metrics.tail(range(1, 51)) == (40.0, pytest.approx(80.0), 50)
    assert metrics.tail(range(1, 31)) == (30.0, 100.0, 30)


def test_stream_mirror_windows_and_sessions():
    t0 = gen.STREAM_T0_US
    gap = mirror.SESSION_GAP_US
    ev = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3, 4],
            "ts": [t0, t0 + 60_000_000, t0 + 60_000_000 + gap + 1, t0 + 5 * 3_600_000_000, t0 + 30_000_000],
            "user_id": [1, 1, 1, 2, 1],
            "event_type": ["a", "a", "b", "a", "late"],
            "value": [1.0, 2.0, 3.0, 4.0, 0.5],
        }
    )
    w = mirror.window_counts(ev)
    assert w[(t0, "a")] == (2, 3.0) and w[(t0, "late")] == (1, 0.5)
    assert all(k[0] + mirror.WINDOW_US <= mirror.final_watermark_us(ev) for k in w)
    s = mirror.sessions(ev)
    first = [x for x in s if x["user_id"] == 1][0]
    assert (first["n_events"], first["sum_value"], first["closed_by_gap"]) == (3, 3.5, True)
    got = [(x["user_id"], x["start_us"], x["end_us"], x["n_events"], x["sum_value"]) for x in s]
    # the user-2 session is still open at the final watermark
    assert mirror.check_sessions(got, ev) == [f"session emitted before its deadline {tuple(got[-1][:4])}"]
    assert mirror.check_sessions(got[:-1], ev) == []


def test_shingles_lowercase_and_split_on_java_whitespace_only():
    # U+00A0 is not Java whitespace: it stays inside its token
    a = mirror.shingles("Spark  Row\tscan\u00a0x a")
    assert a == {"spark row scan\u00a0x", "row scan\u00a0x a"}
    assert mirror.jaccard(a, a) == 1.0 and mirror.shingles("two words") == frozenset()


# --- metric names --------------------------------------------------------


def test_metric_names_and_benchmark_json_agree():
    names = [n for n, *_ in metrics.END_TO_END] + [n for n, _ in metrics.PER_LAYER]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.GENERATORS)
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", u) for u in metrics.UNITS.values())


# --- the program against the mirror on the same quirk store ----------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    import time

    from merkonvectordb_spark.session import get_spark

    # collected timestamps convert through the process time zone
    os.environ["TZ"] = "UTC"
    time.tzset()

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        "vsbench-selftest",
        extra_conf={"spark.sql.warehouse.dir": str(tmp / "wh"), "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def test_program_matches_mirror_on_quirk_store(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from merkonvectordb_spark.sources.vector_store import VectorStore

    m = _quirk_store()
    part = tmp_path / "store" / "vectors" / "collection=c"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "key": [r["key"] for r in m.rows],
                "metadata": [r["metadata"] for r in m.rows],
                "embedding": pa.array([r["embedding"].tolist() for r in m.rows], pa.list_(pa.float32())),
                "ts": pa.array([r["ts"].to_pydatetime() for r in m.rows], pa.timestamp("us")),
                "ingest_seq": pa.array([r["ingest_seq"] for r in m.rows], pa.int64()),
            }
        ),
        part / "part-0.parquet",
    )
    vs = VectorStore(spark, str(tmp_path / "store"))

    def content():
        return sorted(mirror.row_tuple(r.asDict()) for r in vs.vectors().collect())

    assert content() == m.snapshot()
    assert mirror.row_tuple(vs.get("c", "dup").asDict()) == mirror.row_tuple(m.get("c", "dup"))
    for q, k, t in (([1.0, 1.0, 0.0], 100, 0.0), ([0.3, 0.9, 0.1], 2, 0.5), ([1.0, 0.0, 0.0], 3, 1.0)):
        got = [(r["key"], r["score"]) for r in vs.search("c", q, k, t).collect()]
        want = m.search("c", q, k, t)
        assert [g[0] for g in got] == [w["key"] for w, _ in want]
        assert all(abs(g[1] - s) <= 1e-6 for g, (_, s) in zip(got, want))
    batch = [_rec("c", "dup", [5, 5, 5], ts=9), _rec("c", "decoy", [1, 2, 3], meta_id="real", ts=9)]
    t = pa.table(
        {
            "collection": [r["collection"] for r in batch],
            "key": [r["key"] for r in batch],
            "metadata": [r["metadata"] for r in batch],
            "embedding": pa.array([r["embedding"].tolist() for r in batch], pa.list_(pa.float32())),
            "ts": pa.array([r["ts"].to_pydatetime() for r in batch], pa.timestamp("us")),
        }
    )
    pq.write_table(t, tmp_path / "batch.parquet")
    vs.upsert(spark.read.parquet(str(tmp_path / "batch.parquet")))
    m.upsert(batch)
    assert content() == m.snapshot()
    vs.delete_batch("c", ["dup", "real", "missing"])
    m.delete_batch("c", ["dup", "real", "missing"])
    assert content() == m.snapshot()

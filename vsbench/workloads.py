"""The closed-loop workloads: one client, each op issued after the
previous one returned.

A workload loads its initial state once (``load``, then ``warm``), then
``measure`` runs a number of whole units of work and checks every output
against ``vsbench.mirror``.  Each program call goes through
``ctx.tracer.op`` so a traced run can split it into build / plan / exec
and attribute Spark metrics to it.  Measuring work that only a traced
run does (extra Spark jobs, numpy re-computations) is queued on
``ctx.later`` and runs after the timed loop.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import sys
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from vsbench import gen, mirror, trace
from vsbench.metrics import median, tail


class Mismatch(Exception):
    """An output differs from the mirror."""


class Context:
    def __init__(self, work: str, spec: dict, tracer: trace.Tracer):
        self.work = work
        self.spec = spec
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # the generic end-to-end figures: wall time of every program call
        # the client made, by kind of call (the layer it enters), the
        # units of work they completed, and bytes the program wrote
        # against logical bytes it was given to store
        self.walls: dict[str, list[float]] = {}
        self.costs: list[float] = []
        self.units = 0.0
        self.written = 0
        self.given = 0
        # measuring work of a traced run, done after the timed loop
        self.later: list = []

    def call(self, op, units: float = 0.0) -> None:
        self.walls.setdefault(op.layer, []).append(op.wall)
        self.costs.append(op.cost)
        self.units += units

    def generic(self) -> tuple[dict, dict]:
        """Latency metrics are geometric means over the kinds of call of
        each kind's own median (or tail), so a slower kind moves them
        however rarely it is called or however fast it was."""
        tails = {k: tail(v) for k, v in self.walls.items()}
        calls = sum(len(v) for v in self.walls.values())
        return {
            "op_p50_s": _geomean(median(v) for v in self.walls.values()),
            "op_tail_s": _geomean(t[0] for t in tails.values()),
            "work_per_s": self.units / sum(map(sum, self.walls.values())) if calls else 0.0,
            "write_amp": self.written / self.given if self.given else 0.0,
        }, {"op_tail": {k: f"p{p:.1f} of {n}" for k, (_, p, n) in tails.items()}}

    def overhead(self) -> float:
        """Time spent around the program calls (job groups, ``/proc``
        reads, pinned-RDD counts) over the time of the calls."""
        wall = sum(map(sum, self.walls.values()))
        return (sum(self.costs) - wall) / wall if wall else 0.0

    def defer(self, fn) -> None:
        """Queue measuring work for after the timed loop (traced runs)."""
        if self.tracer.enabled:
            self.later.append(fn)

    @property
    def spark(self):
        return self.tracer.spark

    def path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", name)

    def scratch_path(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    def scratch(self, name: str) -> str:
        """A fresh output directory for ``name``."""
        p = self.scratch_path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    @contextlib.contextmanager
    def attempt(self, what: str):
        """Count one op; an exception or a mirror mismatch fails it."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - the loop must go on and report
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}")
            if not isinstance(e, Mismatch):
                traceback.print_exc(file=sys.stderr)


def _layer(ops, layer: str, key: str) -> float:
    """Median over the traced calls into ``layer`` of a span or a figure."""
    return median(o.spans[key] if key in o.spans else o.extra.get(key, 0.0) for o in ops if o.layer == layer)


def _dims_per_cpu(ops, layer: str) -> float:
    """Scored pairs × dim over CPU seconds of each call's most CPU-heavy
    stage (the scoring stage)."""
    calls = [o for o in ops if o.layer == layer]
    cpu = sum(o.extra["score_stage_cpu_s"] for o in calls)
    return sum(o.extra.get("dims", 0.0) for o in calls) / cpu if cpu else 0.0


def _close(a: float, b: float, tol: float = 1e-6) -> bool:
    return abs(a - b) <= tol


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs and min(xs) > 0 else 0.0


# ---------------------------------------------------------------------------


class Workload:
    name = ""
    # seconds of the measuring window one unit of work (a cycle, or a
    # block of ops) stands for; a run does the same number of whole units
    # every time, so its mix never depends on how fast the host was
    unit_s = 16.0

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.unit_s))

    def measure(self, units: int) -> None:
        """Run ``units`` whole cycles."""
        for _ in range(units):
            self._cycle()

    def warm(self) -> None:
        """Set-up work after the load (none by default)."""

    def final_check(self) -> None:
        """Checks that need the whole run (none by default)."""


class CrudMixed(Workload):
    name = "crud_mixed"
    # a block of ten ops takes 6-9 s on 4 cores
    unit_s = 10.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.ops = json.load(open(ctx.path(ctx.spec["ops_file"])))
        self.cursor = 0
        self.mirror = mirror.StoreMirror()
        self.mirror.upsert(gen.read_records(ctx.path(ctx.spec["seed_file"])))
        self.lat: dict[str, list[float]] = {"search": [], "get": [], "write": []}

    def load(self) -> None:
        from merkonvectordb_spark.sources.vector_store import VectorStore

        self.root = self.ctx.scratch("store")
        self.vs = VectorStore(self.ctx.spark, self.root)
        self.vs.upsert(self.ctx.spark.read.parquet(self.ctx.path(self.ctx.spec["seed_file"])))

    def warm(self) -> None:
        self.vs.get("coll_04", "absent")
        self.vs.search("coll_04", [1.0] * self.ctx.spec["dim"], 1).collect()

    def measure(self, units: int) -> None:
        """Run the next ``units`` blocks of ``gen.BLOCK`` ops."""
        end = self.cursor + units * len(gen.BLOCK)
        if end > len(self.ops):
            raise ValueError(f"the op stream holds {len(self.ops) // len(gen.BLOCK)} blocks; {units} more asked")
        for spec in self.ops[self.cursor : end]:
            self.cursor += 1
            with self.ctx.attempt(f"{spec['op']}#{self.cursor}"):
                getattr(self, "_" + spec["op"])(spec)

    def _search(self, s) -> None:
        tr = self.ctx.tracer
        with tr.op("operators.search.knn") as op:
            with op.span("build"):
                df = self.vs.search(s["collection"], s["query"], s["k"], s["min_score"])
            op.plan(df)
            with op.span("exec"):
                rows = df.collect()
        self.lat["search"].append(op.wall)
        self.ctx.call(op, 1)
        want = self.mirror.search(s["collection"], s["query"], s["k"], s["min_score"])
        op.extra["dims"] = float(len(self.mirror.keys(s["collection"])) * len(s["query"]))
        got = [(r["key"], r["score"]) for r in rows]
        if [g[0] for g in got] != [w[0]["key"] for w in want]:
            raise Mismatch(f"search keys {[g[0] for g in got][:5]} != {[w[0]['key'] for w in want][:5]}")
        for (key, score), (_, raw) in zip(got, want):
            if not _close(score, raw):
                raise Mismatch(f"search score {key}: {score} vs {raw}")

    def _get(self, s) -> None:
        with self.ctx.tracer.op("sources.vector_store.get") as op:
            with op.span("exec"):
                row = self.vs.get(s["collection"], s["key"])
        self.lat["get"].append(op.wall)
        self.ctx.call(op, 1)
        want = self.mirror.get(s["collection"], s["key"])
        if (row is None) != (want is None) or (
            row is not None and mirror.row_tuple(row.asDict()) != mirror.row_tuple(want)
        ):
            raise Mismatch(f"get {s['key']}: {row} vs {want}")

    def _write(self, layer: str, fn) -> None:
        before = trace.snapshot(self.root)
        with self.ctx.tracer.op(layer) as op:
            fn(op)
        d = trace.delta(before, trace.snapshot(self.root))
        op.extra.update(bytes_written=d["bytes"], files_written=d["files"], partitions_rewritten=d["dirs"])
        self.ctx.written += d["bytes"]
        self.lat["write"].append(op.wall)
        self.ctx.call(op, 1)

    def _upsert(self, s) -> None:
        path = self.ctx.path(s["file"])

        def run(op):
            with op.span("build"):
                records = self.ctx.spark.read.parquet(path)
            with op.span("exec"):
                self.vs.upsert(records)

        self._write("sources.vector_store.upsert", run)
        self.mirror.upsert(gen.read_records(path))
        self.ctx.given += s["user_bytes"]

    def _delete_batch(self, s) -> None:
        def run(op):
            with op.span("exec"):
                self.vs.delete_batch(s["collection"], s["keys"])

        self._write("sources.vector_store.delete_batch", run)
        self.mirror.delete_batch(s["collection"], s["keys"])

    def final_check(self) -> None:
        with self.ctx.attempt("final store content"):
            got = sorted(mirror.row_tuple(r.asDict()) for r in self.vs.vectors().collect())
            want = self.mirror.snapshot()
            if got != want:
                diff = set(got) ^ set(want)
                raise Mismatch(f"store content differs in {len(diff)} rows, e.g. {sorted(diff)[:2]}")

    def end_to_end(self) -> tuple[dict, dict]:
        st, sp, sn = tail(self.lat["search"])
        wt, wp, wn = tail(self.lat["write"])
        notes = {
            "search_tail": f"p{sp:.1f} of {sn}",
            "write_tail": f"p{wp:.1f} of {wn}",
            "get_samples": len(self.lat["get"]),
        }
        return {
            "search_p50_s": median(self.lat["search"]),
            "search_tail_s": st,
            "write_p50_s": median(self.lat["write"]),
            "write_tail_s": wt,
            "get_p50_s": median(self.lat["get"]),
            "write_amp": self.ctx.written / max(self.ctx.given, 1),
        }, notes

    def layers(self, ops, sql_starts) -> dict:
        out = {}
        for key in ("exec_s", "bytes_written", "files_written", "partitions_rewritten"):
            src = "exec" if key == "exec_s" else key
            out[f"sources.vector_store.upsert.{key}"] = _layer(ops, "sources.vector_store.upsert", src)
        out["sources.vector_store.delete_batch.exec_s"] = _layer(ops, "sources.vector_store.delete_batch", "exec")
        gets = [o for o in ops if o.layer == "sources.vector_store.get"]
        # get() plans and executes inside one call: its plan span ends at
        # the first SQL execution the event log shows for it
        plan = []
        for o in gets:
            first = min((t for t in sql_starts if o.t0 <= t <= o.t1), default=o.t1)
            plan.append(first - o.t0)
        out["sources.vector_store.get.plan_s"] = median(plan)
        out["sources.vector_store.get.exec_s"] = median(o.wall - p for o, p in zip(gets, plan))
        out["sources.vector_store.get.input_bytes"] = _layer(ops, "sources.vector_store.get", "input_bytes")
        for key, src in (("build_s", "build"), ("plan_s", "plan"), ("exec_s", "exec"), ("cpu_s", "cpu_s"),
                         ("tasks", "tasks"), ("input_bytes", "input_bytes")):
            out[f"operators.search.knn.{key}"] = _layer(ops, "operators.search.knn", src)
        out["functions.vector.dims_scored_per_cpu_s"] = _dims_per_cpu(ops, "operators.search.knn")
        return out


# ---------------------------------------------------------------------------


class IvfBatch(Workload):
    name = "ivf_batch"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        s = ctx.spec
        self.k = s["k"]

        def mat(name, id_col):
            t = pq.read_table(ctx.path(s[name])).to_pydict()
            return np.asarray(t[id_col]), np.asarray(t["embedding"], dtype=np.float32)

        self.ids, self.x = mat("corpus_file", "vec_id")
        self.new_ids, self.xa = mat("append_file", "vec_id")
        self.qids, self.xq = mat("queries_file", "query_id")
        # the index after the append holds both
        self.both_ids = np.concatenate([self.ids, self.new_ids])
        self.both = np.concatenate([self.x, self.xa])
        self.exact = [self._truth(self.ids, self.x, q) for q in self.xq]
        self.exact_appended = [self._truth(self.both_ids, self.both, q) for q in self.xq]
        self.cycles = 0
        self.t_exact = self.t_search = 0.0
        self.n_exact = self.n_search = 0
        self.build_s: list[float] = []
        self.append_s: list[float] = []
        self.recalls: list[float] = []
        # logical bytes the index is given per cycle: id + float32 vector
        self.cycle_bytes = (len(self.x) + len(self.xa)) * (8 + 4 * self.x.shape[1])

    def _truth(self, ids, x, q) -> dict:
        return dict(mirror.topk(x, list(ids), q, self.k))

    def load(self) -> None:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        self.corpus = spark.read.parquet(self.ctx.path(self.ctx.spec["corpus_file"]))
        self.queries = spark.read.parquet(self.ctx.path(self.ctx.spec["queries_file"]))
        self.appended = spark.read.parquet(self.ctx.path(self.ctx.spec["append_file"]))
        from merkonvectordb_spark.operators.ann import IVF_K

        # deterministic seed centroids: the first IVF_K corpus vectors
        self.seed_cents = self.corpus.where(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.transform("embedding", lambda v: v.cast("double")).alias("cv"),
        )
        self.corpus.count()

    def warm(self) -> None:
        self.queries.limit(1).collect()

    def _cycle(self) -> None:
        from merkonvectordb_spark.operators.ann import kmeans_refine
        from merkonvectordb_spark.operators.index import append_to_ivf_index, build_ivf_index
        from merkonvectordb_spark.operators.search import knn_batch

        tr, ctx, spark = self.ctx.tracer, self.ctx, self.ctx.spark
        root = ctx.scratch(f"ivf_{self.cycles}")
        self.cycles += 1
        idx = None
        with ctx.attempt("kmeans_refine + build_ivf_index"):
            with tr.op("operators.ann.kmeans_refine") as refine:
                with refine.span("build"):
                    cdf = kmeans_refine(self.corpus, self.seed_cents, iterations=1)
                refine.plan(cdf)
                with refine.span("exec"):
                    cents = cdf.collect()
            cents_df = spark.createDataFrame([(r["cid"], r["cv"]) for r in cents], "cid INT, cv ARRAY<DOUBLE>")
            with tr.op("operators.index.build_ivf_index") as build:
                with build.span("exec"):
                    idx = build_ivf_index(spark, self.corpus, cents_df, root)
            build.extra["bytes_written"] = trace.delta({}, trace.snapshot(root))["bytes"]
            self.build_s.append(refine.wall + build.wall)
            ctx.call(refine)
            ctx.call(build)
            ctx.written += build.extra["bytes_written"]
            ctx.given += self.cycle_bytes
        with ctx.attempt("knn_batch"):
            with tr.op("operators.search.knn_batch") as op:
                with op.span("build"):
                    df = knn_batch(self.corpus, self.queries, k=self.k)
                op.plan(df)
                with op.span("exec"):
                    rows = df.collect()
            self.t_exact += op.wall
            self.n_exact += len(self.qids)
            ctx.call(op, len(self.qids))
            op.extra["dims"] = float(len(self.ids) * len(self.qids) * self.x.shape[1])
            self._check_exact(rows)
        if idx is None:
            return
        with ctx.attempt("append_to_ivf_index"):
            before = trace.snapshot(root)
            with tr.op("operators.index.append_to_ivf_index") as op:
                with op.span("exec"):
                    append_to_ivf_index(idx, self.appended)
            d = trace.delta(before, trace.snapshot(root))
            op.extra.update(_manifests(d))
            self.append_s.append(op.wall)
            ctx.call(op)
            ctx.written += d["bytes"]
        with ctx.attempt("search_ivf_index"):
            self._search(idx, cents)

        def read_plan():
            with tr.op("sources.versioned.read", probe=True) as op:
                with op.span("build"):
                    df = idx.lists.read()
                op.plan(df)

        ctx.defer(read_plan)

    def _check_exact(self, rows) -> None:
        got: dict = {}
        for r in rows:
            got.setdefault(r["query_id"], {})[r["vec_id"]] = r["score"]
        for qid, want in zip(self.qids, self.exact):
            g = got.get(qid, {})
            if set(g) != set(want):
                raise Mismatch(f"knn_batch query {qid}: {sorted(g)[:5]} vs {sorted(want)[:5]}")
            bad = [v for v in g if not _close(g[v], want[v])]
            if bad:
                raise Mismatch(f"knn_batch query {qid} score of {bad[0]}: {g[bad[0]]} vs {want[bad[0]]}")

    def _search(self, idx, cents) -> None:
        """IVF search on the appended index, checked against the exact
        cosine of each returned pair and scored for recall."""
        from merkonvectordb_spark.operators.index import search_ivf_index

        tr = self.ctx.tracer
        with tr.op("operators.index.search_ivf_index") as op:
            with op.span("build"):
                df = search_ivf_index(idx, self.queries, k=self.k)
            op.plan(df)
            with op.span("exec"):
                rows = df.collect()
        self.t_search += op.wall
        self.n_search += len(self.qids)
        self.ctx.call(op, len(self.qids))
        x, truth = self.both, self.exact_appended
        pos = {int(v): i for i, v in enumerate(self.both_ids)}
        q_of = {int(q): i for i, q in enumerate(self.qids)}
        got: dict = {}
        for r in rows:
            qi = q_of[r["query_id"]]
            raw = float(mirror.cosine(x[pos[r["vec_id"]]], self.xq[qi])[0])
            if not _close(r["score"], raw):
                raise Mismatch(f"ivf score q{r['query_id']} v{r['vec_id']}: {r['score']} vs {raw}")
            got.setdefault(qi, set()).add(r["vec_id"])
        for qi, want in enumerate(truth):
            if len(got.get(qi, ())) > self.k:
                raise Mismatch(f"ivf returned more than k rows for query {qi}")
            self.recalls.append(len(got.get(qi, set()) & set(want)) / len(want))
        op.extra["recall_at_10"] = float(np.mean(self.recalls[-len(truth):]))
        self.ctx.defer(lambda: op.extra.update(candidates_per_query=_ivf_candidates(x, self.xq, cents)))

    def end_to_end(self) -> tuple[dict, dict]:
        return {
            "exact_qps": self.n_exact / self.t_exact if self.t_exact else 0.0,
            "ivf_build_s": median(self.build_s),
            "ivf_qps": self.n_search / self.t_search if self.t_search else 0.0,
            "recall_at_10": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "ivf_append_s": median(self.append_s),
        }, {"cycles": self.cycles}

    def layers(self, ops, sql_starts) -> dict:
        L = "operators.search.knn_batch"
        out = {f"{L}.{k}": _layer(ops, L, s) for k, s in
               (("exec_s", "exec"), ("cpu_s", "cpu_s"), ("tasks", "tasks"), ("shuffle_write_bytes", "shuffle_write_bytes"))}
        out["functions.vector.dims_scored_per_cpu_s"] = _dims_per_cpu(ops, L)
        out["operators.skew.scoring_tasks"] = _layer(ops, L, "score_stage_tasks")
        L = "operators.ann.kmeans_refine"
        out.update({f"{L}.exec_s": _layer(ops, L, "exec"), f"{L}.jobs": _layer(ops, L, "jobs"),
                    f"{L}.shuffle_write_bytes": _layer(ops, L, "shuffle_write_bytes")})
        L = "operators.index.build_ivf_index"
        out.update({f"{L}.exec_s": _layer(ops, L, "exec"), f"{L}.bytes_written": _layer(ops, L, "bytes_written")})
        L = "operators.index.search_ivf_index"
        out.update({f"{L}.{k}": _layer(ops, L, s) for k, s in
                    (("build_s", "build"), ("exec_s", "exec"), ("input_bytes", "input_bytes"),
                     ("candidates_per_query", "candidates_per_query"), ("recall_at_10", "recall_at_10"))})
        L = "operators.index.append_to_ivf_index"
        out[f"{L}.exec_s"] = _layer(ops, L, "exec")
        out["sources.versioned.manifests_written"] = _layer(ops, L, "manifests")
        out["sources.versioned.manifest_bytes"] = _layer(ops, L, "manifest_bytes")
        out["sources.versioned.read.plan_s"] = _layer(ops, "sources.versioned.read", "plan")
        return out


def _manifests(d: dict) -> dict:
    man = [p for p in d["paths"] if f"{os.sep}_manifest{os.sep}" in p and p.endswith(".parquet")]
    return {"manifests": len(man), "manifest_bytes": sum(os.path.getsize(p) for p in man)}


def _ivf_candidates(x, xq, cents) -> float:
    """Mean candidates a query re-ranks: sizes of its n_probe nearest
    lists under the assignment the index makes (best cosine, lowest cid
    on ties)."""
    from merkonvectordb_spark.operators.ann import IVF_N_PROBE

    cids = np.array([r["cid"] for r in cents])
    cv = np.array([r["cv"] for r in cents], dtype=np.float64)
    sim = np.stack([mirror.cosine(x, c) for c in cv], axis=1)
    order = np.lexsort((np.broadcast_to(cids, sim.shape), -sim), axis=1)
    sizes = np.bincount(order[:, 0], minlength=len(cids))
    total = 0
    for q in xq:
        s = mirror.cosine(cv, q)
        probe = sorted(range(len(cids)), key=lambda j: (-s[j], cids[j]))[:IVF_N_PROBE]
        total += int(sizes[probe].sum())
    return total / len(xq)


# ---------------------------------------------------------------------------


class DedupIngest:
    """The dedup part of ``ingest``."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        s = ctx.spec
        self.base_text = gen.read_docs(ctx.path(s["base_file"]))
        self.batch_text = [gen.read_docs(ctx.path(f)) for f in s["batch_files"]]
        self.sets = {i: mirror.shingles(t) for d in [self.base_text, *self.batch_text] for i, t in d.items()}
        self.within = [tuple(p) for p in s["planted_within"]]
        self.cross = [tuple(p) for p in s["planted_cross"]]
        self.cycles = 0
        self.near_s: list[float] = []
        self.ingest_s: list[float] = []
        self.found = self.planted = 0
        self.doc_bytes = {i: 8 + len(t.encode()) for d in [self.base_text, *self.batch_text] for i, t in d.items()}

    def load(self) -> None:
        spark = self.ctx.spark
        self.base = spark.read.parquet(self.ctx.path(self.ctx.spec["base_file"]))
        self.batches = [spark.read.parquet(self.ctx.path(f)) for f in self.ctx.spec["batch_files"]]
        self.base.count()

    def _cycle(self) -> None:
        from merkonvectordb_spark.operators.dedup import near_dedup
        from merkonvectordb_spark.operators.fingerprint_store import (
            append_minhash_store,
            build_minhash_store,
            probe_minhash_store,
        )

        tr, ctx, spark = self.ctx.tracer, self.ctx, self.ctx.spark
        root = ctx.scratch(f"minhash_{self.cycles}")
        self.cycles += 1
        with ctx.attempt("near_dedup"):
            with tr.op("operators.dedup.near_dedup") as op:
                with op.span("build"):
                    df = near_dedup(self.base, "doc_id", "text")
                op.plan(df)
                with op.span("exec"):
                    rows = df.collect()
            self.near_s.append(op.wall)
            ctx.call(op, len(self.base_text))
            self._check_groups(rows)
        with ctx.attempt("build_minhash_store"):
            with tr.op("operators.fingerprint_store.build") as op:
                with op.span("exec"):
                    store = build_minhash_store(spark, self.base, root)
            ctx.call(op, len(self.base_text))
            ctx.written += trace.delta({}, trace.snapshot(root))["bytes"]
            ctx.given += sum(self.doc_bytes[i] for i in self.base_text)
        hist = set(self.base_text)
        for b, batch in enumerate(self.batches):
            new = self.batch_text[b]
            with ctx.attempt(f"probe batch {b}"):
                with tr.op("operators.fingerprint_store.probe") as probe:
                    with probe.span("build"):
                        df = probe_minhash_store(store, batch)
                    probe.plan(df)
                    with probe.span("exec"):
                        rows = df.collect()
                ctx.call(probe, len(new))
                if tr.enabled:
                    version = store.bands.current_version()
                    ctx.defer(lambda op=probe, v=version, batch=batch: op.extra.update(
                        candidates=_probe_candidates(store, batch, v)))
                self._check_probe(rows, new, hist)
            with ctx.attempt(f"append batch {b}"):
                before = trace.snapshot(root)
                with tr.op("operators.fingerprint_store.append") as app:
                    with app.span("exec"):
                        append_minhash_store(store, batch, batch_id=b)
                d = trace.delta(before, trace.snapshot(root))
                app.extra["bytes_written"] = d["bytes"]
                app.extra.update(_manifests(d))
                self.ingest_s.append(probe.wall + app.wall)
                ctx.call(app, len(new))
                ctx.written += d["bytes"]
                ctx.given += sum(self.doc_bytes[i] for i in new)
            hist |= set(new)
        ctx.defer(self._verify_yield)

    def _check_groups(self, rows) -> None:
        group = {r["doc_id"]: r["group_id"] for r in rows}
        if len(rows) != len(group) or set(group) != set(self.base_text):
            raise Mismatch("near_dedup must return each base doc exactly once")
        members: dict = {}
        for d, g in group.items():
            members.setdefault(g, []).append(d)
        for r in rows:
            if r["group_sz"] != len(members[r["group_id"]]):
                raise Mismatch(f"group_sz of {r['doc_id']} is {r['group_sz']}")
        for g, ms in members.items():
            if g != min(ms):
                raise Mismatch(f"group {g} is not labelled by its min id {min(ms)}")
            if not _connected(ms, self.sets):
                raise Mismatch(f"group {g} joins docs below the threshold: {sorted(ms)[:6]}")
        by_set: dict = {}
        for d in group:
            if self.sets[d]:
                by_set.setdefault(self.sets[d], set()).add(group[d])
        if any(len(gs) > 1 for gs in by_set.values()):
            raise Mismatch("exact duplicates split across groups")
        for a, b in self.within:
            if mirror.jaccard(self.sets[a], self.sets[b]) >= 0.6:
                self.planted += 1
                self.found += group[a] == group[b]

    def _check_probe(self, rows, new: dict, hist: set) -> None:
        pairs = set()
        for r in rows:
            n, h = r["new_id"], r["hist_id"]
            if n not in new or h not in hist or (n, h) in pairs:
                raise Mismatch(f"probe pair ({n}, {h}) is not a new/history pair or repeats")
            pairs.add((n, h))
            j = mirror.jaccard(self.sets[n], self.sets[h])
            if j < 0.6 or not _close(r["jaccard"], j):
                raise Mismatch(f"probe pair ({n}, {h}) jaccard {r['jaccard']} vs {j}")
        for n, h in self.cross:
            if n in new and mirror.jaccard(self.sets[n], self.sets[h]) >= 0.6:
                self.planted += 1
                self.found += (n, h) in pairs

    def _verify_yield(self) -> None:
        from merkonvectordb_spark.operators.dedup import (
            candidate_pairs_from_sets,
            collapse_identical_sets,
            jaccard_edges_from_sets,
            shingle_analysis,
        )

        with self.ctx.tracer.op("operators.dedup.verify", probe=True) as op:
            _, reps = collapse_identical_sets(shingle_analysis(self.base, "doc_id", "text"))
            pairs = candidate_pairs_from_sets(reps).localCheckpoint()
            n_cand = pairs.count()
            n_ver = jaccard_edges_from_sets(reps, pairs, 0.6).count()
        op.extra["verify_yield"] = n_ver / n_cand if n_cand else 0.0

    def end_to_end(self) -> tuple[dict, dict]:
        return {
            "dedup_docs_per_s": len(self.base_text) / median(self.near_s) if self.near_s else 0.0,
            "ingest_batch_s": median(self.ingest_s),
            "dup_pair_recall": self.found / self.planted if self.planted else 0.0,
        }, {"cycles": self.cycles, "planted_pairs": self.planted}

    def layers(self, ops, sql_starts) -> dict:
        L = "operators.dedup.near_dedup"
        out = {f"{L}.{k}": _layer(ops, L, s) for k, s in
               (("build_s", "build"), ("exec_s", "exec"), ("jobs", "jobs"), ("cpu_s", "cpu_s"),
                ("python_stage_cpu_s", "python_stage_cpu_s"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                ("spill_bytes", "spill_bytes"))}
        out["operators.dedup.verify_yield"] = _layer(ops, "operators.dedup.verify", "verify_yield")
        out["operators.dedup.dup_pair_recall"] = self.found / self.planted if self.planted else 0.0
        P, A = "operators.fingerprint_store.probe", "operators.fingerprint_store.append"
        out[f"{P}.exec_s"] = _layer(ops, P, "exec")
        out[f"{P}.candidates"] = _layer(ops, P, "candidates")
        out[f"{A}.exec_s"] = _layer(ops, A, "exec")
        out[f"{A}.bytes_written"] = _layer(ops, A, "bytes_written")
        out["sources.versioned.manifests_written"] = _layer(ops, A, "manifests")
        out["sources.versioned.manifest_bytes"] = _layer(ops, A, "manifest_bytes")
        return out


def _connected(ms: list, sets: dict) -> bool:
    if len(ms) == 1:
        return True
    parent = {m: m for m in ms}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, a in enumerate(ms):
        for b in ms[i + 1 :]:
            if sets[a] == sets[b] or mirror.jaccard(sets[a], sets[b]) >= 0.6:
                parent[find(a)] = find(b)
    return len({find(m) for m in ms}) == 1


def _probe_candidates(store, batch, version: int) -> int:
    """LSH candidate pairs of a probe against bands ``version`` (the one
    it saw) before exact verification."""
    from pyspark.sql import functions as F

    from merkonvectordb_spark.operators.dedup import band_rows, shingle_analysis

    new = band_rows(shingle_analysis(batch, "doc_id", "text")).withColumn("band_id", F.col("band_id").cast("int"))
    hist = store.bands.read(version).withColumnRenamed("__id", "hist_id")
    return (
        new.withColumnRenamed("__id", "new_id")
        .join(hist, ["band_id", "band_key"])
        .select("new_id", "hist_id")
        .distinct()
        .count()
    )


# ---------------------------------------------------------------------------


class StreamWindow:
    """The streaming part of ``ingest``."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        frames = [pq.read_table(ctx.path(f)).to_pandas() for f in ctx.spec["event_files"]]
        self.events = pd.concat(frames, ignore_index=True)
        self.want_windows = mirror.window_counts(self.events)
        ev = self.events
        # logical input bytes a query reads: five 8-byte fields + strings
        self.input_bytes = int(40 * len(ev) + ev.event_type.str.len().sum() + ev.props.str.len().sum())
        self.cycles = 0
        self.rows = 0
        self.wall = 0.0
        self.progress: list[list[dict]] = []

    def load(self) -> None:
        self.src = self.ctx.path(self.ctx.spec["events_dir"])
        self.ctx.spark.read.parquet(self.src).count()

    def _run(self, layer: str, sdf, name: str, check) -> None:
        with self.ctx.attempt(layer):
            with self.ctx.tracer.op(layer) as op:
                with op.span("exec"):
                    q = (
                        sdf.writeStream.format("memory")
                        .queryName(name)
                        .outputMode("append")
                        .option("checkpointLocation", self.ctx.scratch(name))
                        .trigger(availableNow=True)
                        .start()
                    )
                    if not q.awaitTermination(150):
                        q.stop()
                        raise TimeoutError(f"{layer} still running after 150 s")
            progress = q.recentProgress
            if self.ctx.tracer.enabled:
                self.progress.append(progress)
            rows = sum(p["numInputRows"] for p in progress)
            self.rows += rows
            self.wall += op.wall
            self.ctx.call(op, rows)
            self.ctx.written += trace.delta({}, trace.snapshot(self.ctx.scratch_path(name)))["bytes"]
            self.ctx.given += self.input_bytes
            try:
                check(self.ctx.spark.table(name).collect())
            finally:
                self.ctx.spark.catalog.dropTempView(name)

    def _cycle(self) -> None:
        from merkonvectordb_spark.streaming.ingest import stream_events, windowed_counts
        from merkonvectordb_spark.streaming.stateful import sessionize_stream

        spark, n = self.ctx.spark, self.cycles
        self.cycles += 1
        wm = f"{mirror.WATERMARK_US // 60_000_000} minutes"
        self._run(
            "streaming.windowed_counts",
            windowed_counts(
                stream_events(spark, self.src, max_files_per_trigger=1),
                watermark=wm,
                window=f"{mirror.WINDOW_US // 60_000_000} minutes",
            ),
            f"vsbench_windows_{n}",
            self._check_windows,
        )
        self._run(
            "streaming.sessionize_stream",
            sessionize_stream(
                stream_events(spark, self.src, max_files_per_trigger=1),
                gap_sec=mirror.SESSION_GAP_US // 1_000_000,
                watermark=wm,
            ),
            f"vsbench_sessions_{n}",
            self._check_sessions,
        )

    def _check_windows(self, rows) -> None:
        got = {}
        for r in rows:
            key = (pd.Timestamp(r["window_start"]).value // 1000, r["event_type"])
            if key in got:
                raise Mismatch(f"window {key} emitted twice")
            got[key] = (r["n_events"], r["sum_value"])
        if set(got) != set(self.want_windows):
            raise Mismatch(f"windows differ: {sorted(set(got) ^ set(self.want_windows))[:3]}")
        for key, (n, total) in got.items():
            wn, wt = self.want_windows[key]
            if n != wn or not _close(total, wt):
                raise Mismatch(f"window {key}: {(n, total)} vs {(wn, wt)}")

    def _check_sessions(self, rows) -> None:
        got = [(r["user_id"], r["start_us"], r["end_us"], r["n_events"], r["sum_value"]) for r in rows]
        errs = mirror.check_sessions(got, self.events)
        if errs:
            raise Mismatch(f"{len(errs)} session mismatches, e.g. {errs[:2]}")

    def end_to_end(self) -> tuple[dict, dict]:
        return {"stream_rows_per_s": self.rows / self.wall if self.wall else 0.0}, {"cycles": self.cycles}

    def layers(self, ops, sql_starts) -> dict:
        per_cycle = []
        for i in range(0, len(self.progress), 2):
            pair = self.progress[i : i + 2]
            dur = lambda key: float(sum(p["durationMs"].get(key, 0) for prog in pair for p in prog))  # noqa: E731
            last = [prog[-1] for prog in pair if prog]
            state = [s for p in last for s in p.get("stateOperators", [])]
            per_cycle.append({
                "streaming.batches": float(sum(len(prog) for prog in pair)),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.get_batch_ms": dur("getBatch"),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.state_rows_total": float(sum(s.get("numRowsTotal", 0) for s in state)),
                "streaming.state_memory_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in state)),
            })
        keys = per_cycle[0].keys() if per_cycle else ()
        return {k: median(c[k] for c in per_cycle) for k in keys}


# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Ingest pipelines without vector scoring: a dedup cycle over the
    documents, then the streaming queries over the events."""

    name = "ingest"
    # a cycle takes 25-35 s on 4 cores
    unit_s = 32.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.parts = (DedupIngest(ctx), StreamWindow(ctx))

    def load(self) -> None:
        for p in self.parts:
            p.load()

    def _cycle(self) -> None:
        for p in self.parts:
            p._cycle()

    def end_to_end(self) -> tuple[dict, dict]:
        named, notes = {}, {}
        for p in self.parts:
            n, more = p.end_to_end()
            named.update(n)
            notes.update(more)
        return named, notes

    def layers(self, ops, sql_starts) -> dict:
        return {k: v for p in self.parts for k, v in p.layers(ops, sql_starts).items()}


WORKLOADS = {w.name: w for w in (CrudMixed, IvfBatch, Ingest)}

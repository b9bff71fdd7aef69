"""Seeded vector-store benchmark.

    python3 vsbench/run.py --workload crud_mixed --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` under ``.vsbench_work/``
in the repository root, starts a session and loads the initial state
once (set-up), then runs the closed loop over as many whole units of
work (op blocks or cycles) as ``--seconds`` holds.  It checks every
output against the mirror and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` starts the
session with Spark's event log on and runs the same loop traced.  It
reports the per-layer metrics, and ``trace.overhead_frac``: the time the
tracer spends around the program calls over the time of the calls.
Measuring work only a traced run does runs after the loop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and pin the
    session to this host's cores with a small driver heap."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _session(work: str, event_log: bool):
    from merkonvectordb_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("vsbench", extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers, and
    wait until each has exited."""
    from pyspark import SparkContext

    from vsbench.trace import descendants

    started = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    from vsbench import gen, metrics, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".vsbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        _environment(work)
        t = time.perf_counter()
        spec = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = _session(work, event_log=bool(args.trace))
        start_s = time.perf_counter() - t
        tracer = trace.Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Context(work, spec, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.load()
        wl.warm()
        load_s = time.perf_counter() - t
        setup_s = start_s + load_s
        notes = {"gen_s": round(gen_s, 3), "session_start_s": round(start_s, 3), "load_s": round(load_s, 3)}

        wl.measure(wl.units(args.seconds))
        for fn in ctx.later:
            fn()
        wl.final_check()
        named, more = wl.end_to_end()
        generic, tail_note = ctx.generic()
        notes.update(more, **tail_note, named={k: round(v, 6) for k, v in named.items()})
        if args.trace:
            pinned = tracer.max_pinned
            _shutdown(spark)
            spark = None
            jobs, stages, sql_starts = trace.parse_event_log(os.path.join(work, "events"))
            trace.attribute(tracer.ops, jobs, stages)
            values = {name: 0.0 for name, _ in metrics.PER_LAYER}
            values.update(wl.layers(tracer.ops, sql_starts))
            values["session.start_s"] = start_s
            values["session.pinned_rdds"] = float(pinned)
            values["trace.overhead_frac"] = ctx.overhead()
            # the traced loop's end-to-end figures, to set beside an
            # untraced run of the same seed
            notes["traced"] = {"setup_s": round(setup_s, 6), **{k: round(v, 6) for k, v in generic.items()}}
        else:
            values = {"setup_s": setup_s, **generic}
        if ctx.errors:
            notes["errors"] = ctx.errors[:10]
        print(json.dumps({"workload": args.workload, "seed": args.seed, "notes": notes}))
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": metrics.UNITS[k]} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT]
    # the program under test: a checkout without it must fail here
    import merkonvectordb_spark  # noqa: F401

    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

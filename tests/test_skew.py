"""Salting correctness: salted plans must be row-for-row equivalent to
their unsalted forms — only the partitioning changes."""

from __future__ import annotations

from pyspark.sql import functions as F

from merkonvectordb_spark.operators.skew import salted_agg, salted_join


def _skewed_fact(spark):
    # one hot key (90% of rows) + a long tail
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id")).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    return hot.unionByName(tail)


def test_salted_join_matches_plain(spark):
    fact = _skewed_fact(spark)
    dim = spark.createDataFrame(
        [("hot", 1), ("t1", 2), ("t2", 3)], "k STRING, dim_val INT"
    )
    plain = fact.join(dim, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    salted = salted_join(fact, dim, ["k"], n_salt=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_agg_matches_plain(spark):
    fact = _skewed_fact(spark)
    plain = {
        r.k: (r.n, r.s)
        for r in fact.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    counts = {
        r.k: r.count_v
        for r in salted_agg(fact, ["k"], {"v": "count"}, n_salt=8).collect()
    }
    sums = {
        r.k: r.sum_v
        for r in salted_agg(fact, ["k"], {"v": "sum"}, n_salt=8).collect()
    }
    assert counts == {k: v[0] for k, v in plain.items()}
    assert sums == {k: v[1] for k, v in plain.items()}


def test_salted_agg_multi(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 2.0)], "k STRING, v DOUBLE"
    )
    row = {r.k: (r.sum_v, r.min_v) for r in salted_agg(
        df, ["k"], {"v": "sum"}, n_salt=4
    ).join(
        salted_agg(df, ["k"], {"v": "min"}, n_salt=4), "k"
    ).collect()}
    assert row["a"] == (6.0, 1.0) and row["b"] == (2.0, 2.0)


def test_salt_spreads_identical_rows_within_one_partition(spark):
    """Byte-identical hot-key rows in ONE input partition must fan out
    across salts (the per-row position term) — a content-only hash gives
    them all the same salt and the hot key still hits one reducer."""
    from merkonvectordb_spark.operators.skew import _row_salt

    df = spark.createDataFrame(
        [("k", 1)] * 200, "k STRING, v INT"
    ).coalesce(1)
    salts = {r[0] for r in df.select(_row_salt(df, 16)).collect()}
    assert len(salts) >= 8


def test_spread_small_scan_widens_narrow_frames_only(spark):
    from merkonvectordb_spark.operators.skew import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(par + 4)

    spread = spread_small_scan(narrow)
    assert spread.rdd.getNumPartitions() == par
    # results are partitioning-independent
    assert sorted(r.id for r in spread.collect()) == list(range(1000))

    # an already-wide frame passes through UNTOUCHED — the exact same
    # plan object, no exchange added (the 100 TB no-op guarantee)
    assert spread_small_scan(wide) is wide


def test_estimated_scan_splits_sizes_scan_chains_only(spark, sf_dir, tmp_path):
    """The metadata estimate describes a file scan's own splits, so it
    applies only to scan → filter/project chains; anything that still
    lists its leaves' files but is partitioned otherwise (join, union)
    must fall back to the RDD probe (None)."""
    from merkonvectordb_spark.operators.skew import _estimated_scan_splits
    from merkonvectordb_spark.schema import load_table
    from merkonvectordb_spark.sources.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs"))
    recs = spark.createDataFrame(
        [
            ("c0", "a", '{"id": "a"}', [1.0, 0.0]),
            ("c1", "b", '{"id": "b"}', [0.0, 1.0]),
        ],
        "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>",
    ).withColumn("ts", F.timestamp_micros(F.lit(0)))
    store.upsert(recs, key_from_metadata=False)
    vectors = store.vectors()
    emb = load_table(spark, sf_dir, "embeddings")

    for df in (
        vectors.join(vectors.select("collection", "key"), ["collection", "key"]),
        vectors.unionByName(vectors),
        emb.join(emb.select("vec_id"), "vec_id"),
    ):
        assert df.inputFiles()
        assert _estimated_scan_splits(df) is None

    # the input shapes of today's spread_small_scan call sites
    call_site_shapes = {
        "VectorStore.vectors()": vectors,
        "knn_batch corpus": store.scan("c0").where(
            F.col("key").isNotNull() & (F.col("key") != "")
        ),
        "semantic_dedup select": emb.select(F.col("vec_id"), F.col("embedding")),
    }
    for label, df in call_site_shapes.items():
        assert _estimated_scan_splits(df) is not None, label

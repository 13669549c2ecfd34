"""Semantic pins of the TPC-H registry rows (registry_tpch.py) that
oracle parity cannot show on the synthetic corpus."""

from pyspark.sql import functions as F

from kafka_connect_oss_spark import registry_tpch


def test_q2_tie_semantics(spark, tmp_path):
    """Q2 shape contract: when two regional suppliers share a part's
    minimum supply cost, BOTH rows return (the window-min equality
    filter, like TPC-H Q2's correlated subquery) — constructed fixture
    because the synthetic corpus may never produce an exact cents tie."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    ).write.parquet(f"{sf}/region.parquet")
    spark.createDataFrame(
        [(0, "NATION_A", 0), (1, "NATION_B", 0), (2, "NATION_C", 1)],
        "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(f"{sf}/nation.parquet")
    spark.createDataFrame(
        [(1, "SUP_1", 0, 10.0), (2, "SUP_2", 1, 20.0),
         (3, "SUP_3", 2, 30.0)],  # SUP_3 is outside EUROPE
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).write.parquet(f"{sf}/supplier.parquet")
    spark.createDataFrame(
        [(7, "p", "B", "T", 5, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ).write.parquet(f"{sf}/part.parquet")
    # both EU suppliers ship part 7 at min 4.00; the ASIA supplier at
    # 1.00 must NOT drag the min down (region filter precedes the min)
    li = [(1, 7, 1, 1, 1.0, 4.00, 0.0, 0.0, "N", "O", "2020-01-01"),
          (2, 7, 1, 2, 1.0, 9.00, 0.0, 0.0, "N", "O", "2020-01-02"),
          (3, 7, 2, 1, 1.0, 4.00, 0.0, 0.0, "N", "O", "2020-01-03"),
          (4, 7, 3, 1, 1.0, 1.00, 0.0, 0.0, "N", "O", "2020-01-04")]
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string"
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")
                 ).write.parquet(f"{sf}/lineitem.parquet")

    rows = sorted(
        (r.s_name, r.supplycost_cents)
        for r in registry_tpch.q2_min_cost_supplier(spark, sf).collect())
    assert rows == [("SUP_1", 400), ("SUP_2", 400)], rows

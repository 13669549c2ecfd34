"""Audit Spark-vs-DuckDB result dtypes for every registered oracle.

The r09 round lost 3 window seats to a type mismatch the stringifying
local harnesses could not see (DuckDB SUM() -> HUGEINT vs Spark BIGINT:
the driver's typed value hash differs while rows/schema match). This
script DESCRIBEs every oracle (no execution) and diffs the column types
against the Spark plan's schema so the whole class is visible at once.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from kafka_connect_oss_spark.registry import (  # noqa: E402
    LAZY_ORACLES, ORACLES, QUERIES)
from tests.parity import assert_types  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# lazy oracles resolve at the audit SF exactly as the driver's
# oracle_sql() does
osql = dict(ORACLES)
for _name, _factory in LAZY_ORACLES.items():
    try:
        osql[_name] = _factory(SF)
    except Exception as ex:
        print(f"{_name}: LAZY-ORACLE-UNRESOLVED "
              f"{type(ex).__name__}: {str(ex)[:120]}")
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")

names = ([n.strip() for n in os.environ["ONLY"].split(",") if n.strip()]
         if os.environ.get("ONLY") else list(QUERIES))
bad, errs = [], []
for name in names:
    if name not in osql:
        continue
    try:
        sdf = QUERIES[name](spark, SF)
        assert_types(sdf.dtypes, con, osql[name], name)
    except AssertionError as ex:
        bad.append(name)
        print(f"{name}: TYPE-MISMATCH {str(ex)[:200]}")
    except Exception as ex:
        errs.append(name)
        print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:160]}")
print(f"\naudited={len(names)} mismatched={len(bad)} errors={len(errs)}")
print("MISMATCHED:", bad if bad else "none")
print("ERRORS:", errs if errs else "none")
spark.stop()

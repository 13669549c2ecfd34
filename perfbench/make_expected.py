#!/usr/bin/env python3
"""Write ``perfbench/expected.json``: row count and order-insensitive digest
of every registry query the benchmark runs, over the tables in
``perfbench/data``.

    python3 perfbench/make_expected.py

Each value comes from the query's DuckDB oracle (``oracle_sql()``), and the
Spark result must agree with it. A query without an oracle, or a
disagreement, is printed and the script exits non-zero without writing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TABLES = ("documents", "embeddings", "events")


def main() -> int:
    data = BENCH / "data"
    # lazy oracles fit their model literals on the data they are given
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(data)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH))
    import duckdb

    import run

    work = BENCH / ".work" / "expected"
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.chdir(work)
    spark = run.make_session(work, os.cpu_count() or 1)
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    fns = run.resolve_queries(run.QUERIES)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / (t + '.parquet')}')")
    expected, bad = {}, []
    for name, fn in fns.items():
        if name not in oracles:
            bad.append(name)
            print(f"{name}: no oracle", file=sys.stderr)
            continue
        res = con.execute(oracles[name])
        orows = res.fetchall()
        want = {"rows": len(orows),
                "digest": run.digest([d[0] for d in res.description], orows)}
        df = fn(spark, str(data))
        rows = df.collect()
        got = {"rows": len(rows), "digest": run.digest(df.columns, rows)}
        if got != want:
            bad.append(name)
            print(f"{name}: spark {got}, oracle {want}", file=sys.stderr)
        expected[name] = want
        print(name, want, flush=True)
    spark.stop()
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        return 1
    (BENCH / "expected.json").write_text(
        json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

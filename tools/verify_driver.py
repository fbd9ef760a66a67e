"""Drive the grading contract (__spark_entry__.py) the way the driver
does: entry() smoke at sf0.001, then every queries() entry against its
oracle_sql() on DuckDB at sf0.01 with the driver's own comparator
(tests/oracle_compare.compare — order-insensitive, float-normalized).

Run in a FRESH process with a default-config SparkSession (the driver
does not use the tuned get_session):

    python tools/verify_driver.py              # full corpus
    python tools/verify_driver.py dedup_ sim_  # name-prefix filter

Prints one line per failing query and a final JSON summary line; exit
status 0 iff everything passed.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tests"))


def main() -> int:
    prefixes = tuple(sys.argv[1:])
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from oracle_compare import compare

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    entry_rows = len(E.entry(spark).collect())

    qs, os_ = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    # driver correctness scale by default; SPARK_GRAFT_VERIFY_SF_DIR
    # overrides for deeper sweeps (e.g. sf0.1 catches scale-dependent
    # divergence — overflow, float accumulation — the small scales
    # cannot)
    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01"
    )
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    names = [n for n in qs if not prefixes or n.startswith(prefixes)]
    n_pass = n_fail = n_rows_only = 0
    failures: dict[str, str] = {}
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            cols = list(sdf.columns)
            rows = [tuple(r) for r in sdf.collect()]
            if name in os_:
                rel = con.sql(os_[name])
                problems = compare(
                    cols, rows, [d[0] for d in rel.description], rel.fetchall()
                )
                if problems:
                    n_fail += 1
                    failures[name] = str(problems)[:300]
                    print(f"FAIL {name}: {str(problems)[:300]}", flush=True)
                else:
                    n_pass += 1
            else:
                n_rows_only += 1  # driver's weaker rows-only check
        except Exception as exc:  # noqa: BLE001 — driver records err rows
            n_fail += 1
            failures[name] = repr(exc)[:300]
            print(f"ERR  {name}: {exc!r}"[:400], flush=True)
    spark.stop()
    print(
        json.dumps(
            {
                "entry_rows": entry_rows,
                "checked": len(names),
                "pass": n_pass,
                "rows_only": n_rows_only,
                "fail": n_fail,
                "failures": failures,
                "sec": round(time.time() - t0, 1),
            }
        )
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

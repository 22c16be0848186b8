#!/usr/bin/env python
"""Full differential sweep: run EVERY registered query against its
DuckDB oracle at an arbitrary scale directory — the driver's contract,
but over the whole registry and at scales the driver never checks.

    python scripts/full_sweep.py [sf_dir [query ...]]

``sf_dir`` defaults to /root/testdata/sf0.1; naming queries restricts
the sweep to them. Exit code 1 on any mismatch. Worth running at sf0.1
after engine changes: the larger scale exercises thresholds, sketch
collisions, and rounding magnitudes the small SFs never reach — the
sf0.1 sweep caught a real one-ulp ROUND divergence in the SIRD MSE
(values ~1e11, where DuckDB's scale-by-10^k round leaves exact-integer
double range).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    from pyspark.sql import SparkSession

    from covid_engineering_spark.session import default_master

    # A vanilla builder, not get_spark(): callers of __spark_entry__
    # bring their own session, so the sweep must pass without the
    # engine's session defaults. The master is get_spark()'s default.
    # The console progress bar is off so piped output holds only the
    # result lines; it is a UI key, not a query-semantics one.
    spark = (
        SparkSession.builder.master(default_master())
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from tests.oracle_check import compare, duck_con

    queries, oracle_sql = entry.queries(), entry.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print("unknown queries:", sorted(unknown))
        return 2
    if only:
        queries = {k: v for k, v in queries.items() if k in only}
        oracle_sql = {k: v for k, v in oracle_sql.items() if k in only}
    con = duck_con(sf_dir)
    bad: list[tuple[str, object]] = []
    t0 = time.time()
    for name in sorted(oracle_sql):
        try:
            res = compare(queries[name](spark, sf_dir), con, oracle_sql[name])
            if not res["match"]:
                bad.append(
                    (name, {k: v for k, v in res.items() if k != "match"})
                )
                print("MISMATCH", name, flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            bad.append((name, repr(ex)[:300]))
            print("ERROR", name, flush=True)
    print(
        f"swept {len(queries)} queries ({len(oracle_sql)} oracles) at "
        f"{sf_dir} in {time.time() - t0:.0f}s; failures: {len(bad)}"
    )
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

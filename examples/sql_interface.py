#!/usr/bin/env python
"""The SQL-only surface: everything the engine computes, reachable
from ``spark.sql`` with zero DataFrame-API calls after setup.

    python examples/sql_interface.py [sf_dir]

Two layers of views:

1. ``register_star`` — the ten base tables as temp views, so any raw
   ANSI query a reference user brings runs as-is;
2. ``register_query_views`` — every pure engine query as a lazy
   ``q_<name>`` view: SELECT from an operator's result, join two
   operators, or re-aggregate one, all in SQL. Views wrap unexecuted
   plans, so Catalyst still prunes columns and pushes filters THROUGH
   them — registering them costs only catalog metadata. The ingest
   family (staging sinks) is skipped because constructing those frames
   runs write jobs.

The script demonstrates both layers plus the composition that makes
the second one useful: joining one engine query's output
(per-document quality) against another's (near-dup clusters) in plain
SQL to pick cluster survivors — without re-implementing either.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid_engineering_spark.queries import register_query_views, registry
from covid_engineering_spark.session import get_spark
from covid_engineering_spark.sources import register_star


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark(app_name="sql-interface")
    spark.sparkContext.setLogLevel("ERROR")

    # layer 1: base tables
    tables = register_star(spark, sf_dir)
    n_li = spark.sql("SELECT COUNT(*) AS n FROM lineitem").first().n
    print(f"base views: {len(tables)} tables; lineitem rows: {n_li}")

    # layer 2: every engine query as a view
    views = register_query_views(spark, sf_dir)
    print(f"query views: {len(views)} registered (all lazy; ingest-"
          "family staging sinks skipped)")

    # a raw ANSI query over a base view
    top = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY n DESC LIMIT 1
        """
    ).first()
    print(f"largest order priority: {top.o_orderpriority} ({top.n} orders)")

    # SELECT straight from an operator's result
    flagged = spark.sql(
        "SELECT COUNT(*) AS n FROM q_ts_anomaly WHERE is_anomaly"
    ).first().n
    print(f"anomalous hourly buckets (via q_ts_anomaly): {flagged}")

    # compose TWO operators in SQL: quality scores joined onto
    # near-dup clusters -> best-quality survivor per cluster
    survivors = spark.sql(
        """
        SELECT c.cluster_id, MAX_BY(q.doc_id, q.quality_score) AS keep_id
        FROM q_dedup_clusters c
        JOIN q_text_quality q ON q.doc_id = c.doc_id
        GROUP BY c.cluster_id
        """
    )
    n_clusters = survivors.count()
    print(f"cluster survivors via two-view SQL join: {n_clusters} clusters")

    # and the registry agrees with its own SQL face
    direct = registry()["ts_anomaly"](spark, sf_dir)
    assert direct.filter("is_anomaly").count() == flagged
    print("dataframe face and SQL face agree")


if __name__ == "__main__":
    main(*sys.argv[1:])

"""Driver-checkable ingest queries (SURVEY.md §2.1 S1–S5): each runs a
real source/sink path end to end *inside* the star-schema world so the
verification driver can hash-compare it against a plain DuckDB select.

The reference's ingest surface is eager pandas — ``pd.read_csv`` with
inference (main.py:18,239,450) and whole-DB SQLite slurps
(main.py:223-235). Here each path round-trips driver parquet through
the engine's actual readers/writers:

* S1/S4 — parquet → CSV sink (header, ``NA`` nulls) → schema-declared
  CSV scan with ``to_date`` (coerce-to-null) semantics;
* S2/S3 — parquet → SQLite tables → catalog enumeration →
  whole-table ingest back to parquet → Spark scan;
* S5 — partitioned parquet sink → partition-discovering scan.

Values survive every hop bit-for-bit (dates as ISO days, doubles via
Java's shortest-roundtrip formatting), so the oracle is just the
identity select on the source table — any coercion bug breaks the
driver's value hash.

Staging directories all live under one per-process root that is
removed at interpreter exit (``atexit``): the returned DataFrames read
the staged files lazily, so per-call deletion would race the caller's
materialization, but a long-lived session re-invoking these queries
(bench warmup + timed runs) must not grow /tmp without bound.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import sqlite3
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STAGING_ROOT: str | None = None
_STAGING_SEEN: set[str] = set()


def _staging_dir(prefix: str, sf_dir: str) -> str:
    """ONE stable scratch dir per (query prefix, source dir) under one
    atexit-cleaned per-process root: re-invoking the same ingest query
    (bench warmup + timed runs, the driver loop) reuses — after
    wiping — its own dir instead of minting a new one per call, so
    staging disk is bounded by (ingest queries × source dirs), not
    invocation count. Keying on ``sf_dir`` means a call against a
    DIFFERENT source can never wipe a directory a previous
    invocation's still-lazy DataFrame reads from — two sf_dirs get two
    disjoint stages. The wipe on SAME-source re-entry assumes the
    previous invocation's frame has been materialized by then (true
    for the bench and the driver, which fully consume each result
    before the next call — and the re-staged content is identical
    anyway, the source being immutable); Spark's own sinks are
    mode('overwrite') — the wipe exists for the non-Spark stagers
    (pandas ``to_sql`` into the scratch SQLite DB errors on an
    existing table).
    """
    global _STAGING_ROOT
    if _STAGING_ROOT is None:
        _STAGING_ROOT = tempfile.mkdtemp(prefix="ces_staging_")
        atexit.register(shutil.rmtree, _STAGING_ROOT, ignore_errors=True)
    key = (
        prefix.rstrip("_")
        + "-"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    d = os.path.join(_STAGING_ROOT, key)
    if key in _STAGING_SEEN:
        shutil.rmtree(d, ignore_errors=True)
    _STAGING_SEEN.add(key)
    os.makedirs(d, exist_ok=True)
    return d


from covid_engineering_spark import schemas
from covid_engineering_spark.sources import (
    read_covid_csv,
    read_table,
    sqlite_to_parquet,
    write_partitioned,
)
from covid_engineering_spark.sources.io import ZORDER_BITS

_S1_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.DateType(), True),
    ]
)


def q_s1_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 — schema-declared CSV scan with the reference's null/date
    semantics (main.py:18,239-241): orders is staged as CSV with
    ``nullValue='NA'`` and an ISO date column, then re-read through
    ``read_covid_csv`` (declared StructType, ``to_date`` coercion — no
    inference pass, the 100 TB-safe contract).
    """
    out = os.path.join(_staging_dir("s1_", sf_dir), "orders_csv")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    (
        orders.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "NA")
        .csv(out)
    )
    return read_covid_csv(spark, out, _S1_SCHEMA)


def q_s2_sqlite_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 — SQLite catalog enumeration + whole-table ingest
    (main.py:223-235): nation and region are loaded into a scratch
    SQLite DB, ``sqlite_to_parquet`` enumerates ``sqlite_master`` and
    converts every table, and the resulting parquet is scanned with the
    declared schema. The driver hash checks that SQLite's type-affinity
    round trip loses nothing.
    """
    import pandas as pd

    tmp = _staging_dir("s2_", sf_dir)
    db = os.path.join(tmp, "star.db")
    with sqlite3.connect(db) as conn:
        for name in ("nation", "region"):
            pdf = pd.read_parquet(os.path.join(sf_dir, f"{name}.parquet"))
            pdf.to_sql(name, conn, index=False)
    paths = sqlite_to_parquet(db, os.path.join(tmp, "pq"))
    fields = schemas.STAR["nation"].fields
    return spark.read.parquet(paths["nation"]).select(
        [F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
    )


def q_s5_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — partitioned parquet sink + partition-discovering scan:
    customer written hive-partitioned by market segment (the layout
    that turns the reference's hottest filter, P2 per-key equality,
    into partition pruning at 100 TB), then read back whole. Partition
    values live in directory names, so the cast back to string is
    explicit.
    """
    out = os.path.join(_staging_dir("s5_", sf_dir), "customer_pq")
    cust = read_table(spark, sf_dir, "customer")
    write_partitioned(cust, out, "c_mktsegment")
    # Declared schema on the read-back (partition column included):
    # schema inference over a partitioned layout is an extra listing +
    # footer pass at 100 TB, and it THROWS on an empty sink instead of
    # returning the empty frame the schema describes.
    back = spark.read.schema(schemas.STAR["customer"]).parquet(out)
    return back.select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_acctbal",
        F.col("c_mktsegment").cast("string").alias("c_mktsegment"),
    )


def q_s6_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — JSON-lines round-trip: documents (the LLM
    corpus table — JSONL is the interchange format crawl pipelines
    actually ship) written as newline-delimited JSON, then re-read
    with the DECLARED schema. No inference pass: schema-on-read
    inference is a second full scan at 100 TB and silently widens
    types; the declared StructType is the contract. Text passes
    through JSON string escaping bit-for-bit or the driver hash fails.
    """
    out = os.path.join(_staging_dir("s6_", sf_dir), "docs_jsonl")
    docs = read_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").json(out)
    return spark.read.schema(schemas.STAR["documents"]).json(out)


def q_s7_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — ORC sink + scan: supplier written as ORC
    (the other columnar interchange format; same predicate-pushdown /
    column-pruning contract as parquet) and re-read with the declared
    schema.
    """
    out = os.path.join(_staging_dir("s7_", sf_dir), "supplier_orc")
    read_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    return spark.read.schema(schemas.STAR["supplier"]).orc(out)


def q_s8_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — small-file compaction: part is first
    written as 32 deliberately tiny files (the shape a streaming or
    over-parallel upstream leaves behind — the classic 100 TB
    operational problem: a 1000-executor job writing per-task files
    turns the NEXT scan into open()-bound metadata work), then
    compacted with ``compact_parquet`` to a bounded file count and
    re-scanned. Values must survive both rewrites bit-for-bit.
    """
    from covid_engineering_spark.sources import compact_parquet

    tmp = _staging_dir("s8_", sf_dir)
    small = os.path.join(tmp, "part_small")
    compacted = os.path.join(tmp, "part_compact")
    read_table(spark, sf_dir, "part").repartition(32).write.mode(
        "overwrite"
    ).parquet(small)
    compact_parquet(spark, small, compacted, schemas.STAR["part"])
    return spark.read.schema(schemas.STAR["part"]).parquet(compacted)


def q_s9_sink_range_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — range-clustered sink + scan: orders
    written range-partitioned and sorted on o_orderdate (every file
    owns a disjoint date interval — the layout that turns time-slice
    predicates into file skipping on footer stats; the disjointness
    property itself is pinned by tests/test_partitioned_layout.py
    reading the footers), then re-read whole for the identity check.
    """
    out = os.path.join(_staging_dir("s9_", sf_dir), "orders_range")
    from covid_engineering_spark.sources import write_range_sorted

    orders = read_table(spark, sf_dir, "orders")
    write_range_sorted(orders, out, "o_orderdate")
    return spark.read.schema(schemas.STAR["orders"]).parquet(out)


def q_s10_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — schema evolution across file generations:
    half the customer rows (even keys) are written by an "old
    producer" WITHOUT the c_mktsegment column, the other half by a
    "new producer" with it; one scan with the DECLARED full schema
    reads both generations, filling the missing column with nulls.

    This is the 100 TB reality: a petabyte lake is never rewritten
    when a column is added, so every reader must handle mixed file
    schemas forever. The declared-schema read is the scalable form —
    ``mergeSchema=true`` inference pays an extra footer pass over
    EVERY file at plan time and widens types silently; the declared
    StructType is one catalog lookup and pins the contract.
    """
    tmp = _staging_dir("s10_", sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 2 == 0).drop("c_mktsegment")
    new = cust.filter(F.col("c_custkey") % 2 != 0)
    old.write.mode("overwrite").parquet(os.path.join(tmp, "gen=0"))
    new.write.mode("overwrite").parquet(os.path.join(tmp, "gen=1"))
    return (
        spark.read.schema(schemas.STAR["customer"])
        .option("recursiveFileLookup", "true")
        .parquet(tmp)
    )


#: Z-order date epoch (synthetic orders start 1995-01-01, span ~2,400
#: days — comfortably inside the key's ``ZORDER_BITS`` = 16 bits;
#: custkey wraps modulo 2^16, the documented policy).
ZORDER_EPOCH = "1995-01-01"


def q_s11_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — multi-column Z-ORDER clustering: orders
    staged range-sorted on the Morton-interleaved key of (o_custkey,
    days-since-epoch of o_orderdate), then re-read for the identity +
    key check. Range partitioning on the z-key gives every file a
    disjoint z-interval — a bounded region of the (customer, date)
    plane — so predicates on EITHER column skip files on footer
    min/max stats (pinned by tests/test_partitioned_layout.py reading
    the footers: per-file area sums to a fraction of files x global
    area). This is the layout behind Delta/Iceberg ``OPTIMIZE ZORDER
    BY`` for the two-hot-filter-columns case single-key range sorting
    (s9) cannot serve; the key is pure integer shift/mask codegen
    (sources/io.py::zorder_value), bit-identical in the oracle, so the
    staged layout's sort key is audit-replayable off-cluster.
    """
    from covid_engineering_spark.sources import (
        write_range_sorted,
        zorder_value,
    )

    out = os.path.join(_staging_dir("s11_", sf_dir), "orders_z")
    orders = read_table(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1 << ZORDER_BITS)).cast("long")
    y = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit(ZORDER_EPOCH))
    ).cast("long")
    staged = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        zorder_value(x, y).alias("zval"),
    )
    write_range_sorted(staged, out, "zval")
    zschema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            schemas.STAR["orders"]["o_orderdate"],
            T.StructField("zval", T.LongType()),
        ]
    )
    return spark.read.schema(zschema).parquet(out)


def q_j7_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family extension — bucketed co-located join, driver-checked:
    orders and lineitem are persisted bucketed + sorted on the order
    key (8 buckets each), then equi-joined and aggregated per order
    priority. With matching bucket layouts the sort-merge join runs
    with ZERO exchanges on the join sides (pinned by
    tests/test_bucketing.py on the plan; this query pins the VALUES
    through the layout round-trip) — at 100 TB this is the layout
    decision that turns every recurring fact⨝fact join from a full
    shuffle into a per-bucket merge.

    The revenue sum rides decimals (order-independent) so the result
    is identical whether the join was co-located or shuffled — which
    is exactly what lets a lakehouse flip a table to bucketed layout
    without a correctness review of downstream queries.
    """
    from covid_engineering_spark.sources import write_bucketed

    base = _staging_dir("j7_", sf_dir)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "ces_j7_orders_b", os.path.join(base, "orders_b"))
    write_bucketed(
        li, "ces_j7_lineitem_b", os.path.join(base, "lineitem_b")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        spark.table("ces_j7_lineitem_b")
        .join(spark.table("ces_j7_orders_b"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


QUERIES = {
    "s1_csv_scan": q_s1_csv_scan,
    "s2_sqlite_ingest": q_s2_sqlite_ingest,
    "s5_sink_partitioned": q_s5_sink_partitioned,
    "s6_jsonl_scan": q_s6_jsonl_scan,
    "s7_orc_roundtrip": q_s7_orc_roundtrip,
    "s8_sink_compact": q_s8_sink_compact,
    "s9_sink_range_sorted": q_s9_sink_range_sorted,
    "s10_schema_evolution": q_s10_schema_evolution,
    "s11_zorder_layout": q_s11_zorder_layout,
    "j7_bucketed_join": q_j7_bucketed_join,
}


def _zorder_oracle_sql() -> str:
    """Generated twin of ``q_s11_zorder_layout``: replays the Morton
    interleave with plain bigint shifts/masks over the pristine table
    (the staged read-back must be value-identical to the source plus
    the recomputed key — the round-trip + auditability contract)."""
    x = f"(o_custkey % {1 << ZORDER_BITS})"
    y = f"(CAST(o_orderdate AS DATE) - DATE '{ZORDER_EPOCH}')"
    terms = " | ".join(
        f"(((zx >> {i}) & 1) << {2 * i}) | (((zy >> {i}) & 1) << {2 * i + 1})"
        for i in range(ZORDER_BITS)
    )
    return f"""
        WITH xy AS (
            SELECT o_orderkey, o_custkey, o_orderdate,
                   CAST({x} AS BIGINT) AS zx,
                   CAST({y} AS BIGINT) AS zy
            FROM orders
        )
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST({terms} AS BIGINT) AS zval
        FROM xy
    """

ORACLES = {
    "s1_csv_scan": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CAST(o_orderdate AS DATE) AS o_orderdate
        FROM orders
    """,
    "s2_sqlite_ingest": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s5_sink_partitioned": """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
    """,
    "s6_jsonl_scan": "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "s7_orc_roundtrip": "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "s8_sink_compact": """
        SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        FROM part
    """,
    "s9_sink_range_sorted": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    "s10_schema_evolution": """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal,
               CASE WHEN c_custkey % 2 = 0 THEN NULL
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    """,
    "j7_bucketed_join": """
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 2)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "s11_zorder_layout": _zorder_oracle_sql(),
}

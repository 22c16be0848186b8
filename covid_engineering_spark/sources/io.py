"""Sources & sinks: schema-declared CSV/Parquet/SQLite ingest.

Replaces the reference's eager loaders — ``pd.read_csv`` with dtype
inference (main.py:18,239,450) and whole-table ``read_sql_query`` over
every row of SQLite (main.py:223-235) — with lazy, schema-declared,
pushdown-friendly Spark reads. Inference on 100 TB means a second full
scan, and SQLite through a single connection is a one-node bottleneck,
so SQLite is converted once to Parquet and all analytics read Parquet.
"""

from __future__ import annotations

import functools
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_engineering_spark import schemas

_SNAKE_RE = re.compile(r"[^0-9a-zA-Z]+")


def snake_case(name: str) -> str:
    """Normalize a reference header (``Country.Region``, ``Deaths / 100
    Cases``, ``No. of countries``) to a SQL-safe snake_case identifier.
    Dotted/spaced names are legal in Spark but need backtick quoting
    everywhere (SURVEY.md §7.4); normalizing once at ingest is cheaper.
    """
    return _SNAKE_RE.sub("_", name.strip()).strip("_").lower()


def read_covid_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan with declared schema and the reference's null/date
    semantics (S1/S4, main.py:18,239-241,450,561):

    * literal ``NA`` strings parse as null (``nullValue``),
    * dates parse via ``to_date`` — unparseable becomes null (the
      moral equivalent of ``errors='coerce'``) and the caller decides
      whether to ``na.drop`` (P4),
    * headers are renamed to snake_case before the schema is applied.
    """
    raw = (
        spark.read.option("header", True)
        .option("nullValue", "NA")
        .option("encoding", "UTF-8")
        .csv(path)
    )
    if renames:
        raw = raw.select([F.col(f"`{c}`").alias(renames.get(c, snake_case(c))) for c in raw.columns])
    else:
        raw = raw.select([F.col(f"`{c}`").alias(snake_case(c)) for c in raw.columns])
    cols = []
    for field in schema.fields:
        src = field.name if field.name in raw.columns else None
        if src is None:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            continue
        c = F.col(src)
        if isinstance(field.dataType, T.DateType):
            c = F.to_date(c)
        else:
            c = c.cast(field.dataType)
        cols.append(c.alias(field.name))
    return raw.select(cols)


def sqlite_to_parquet(db_path: str, out_dir: str) -> dict[str, str]:
    """One-time S2/S3 ingest: enumerate the SQLite catalog and convert
    every table to Parquet (reference slurps each into pandas per run,
    main.py:223-235). Runs driver-side on purpose — it is a one-shot
    migration of a ~60 MB operational store, not a query path; after
    it, all reads are parallel Parquet scans.
    """
    import sqlite3

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, str] = {}
    with sqlite3.connect(db_path) as conn:
        names = [
            r[0]
            for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        ]
        for name in names:
            pdf = pd.read_sql_query(f'SELECT * FROM "{name}"', conn)  # noqa: S608
            pdf.columns = [snake_case(c) for c in pdf.columns]
            dest = os.path.join(out_dir, f"{snake_case(name)}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dest)
            out[snake_case(name)] = dest
    return out


@functools.lru_cache(maxsize=64)
def _footer_ts_type(path: str, mtime_ns: int) -> T.DataType:
    """The type a schema-inferring Spark read gives ``ts`` in the
    parquet file ``path``, from its footer (``mtime_ns`` keys the
    memo): INT64 TIMESTAMP(NANOS) arrives as long under
    ``nanosAsLong``, INT96 and UTC-adjusted timestamps as timestamp,
    the rest as timestamp_ntz."""
    import pyarrow.parquet as pq

    schema = pq.read_metadata(path).schema
    col = next(c for c in map(schema.column, range(len(schema))) if c.name == "ts")
    if col.physical_type == "INT96":
        return T.TimestampType()
    ts = json.loads(col.logical_type.to_json())
    if ts.get("timeUnit") == "nanoseconds":
        return T.LongType()
    return T.TimestampType() if ts.get("isAdjustedToUTC") else T.TimestampNTZType()


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet may carry INT64 TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright. With
    ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as
    LongType nanos; integer-divide to micros (exact — a double division
    would lose precision past 2^53) and rebuild a timestamp_ntz. The
    key is set once per session by ``get_spark()`` or
    ``configure_existing``, never here: this read does not write to a
    session that several clients may share. A foreign session whose
    config is immutable (so the key could not be set) falls back to a
    driver-side pyarrow read.

    The read schema is declared, with ``ts`` typed from the footer of
    one data file, so building the frame runs no schema-inference job.
    """
    sample = path
    if os.path.isdir(path):
        sample = min(
            (os.path.join(path, n) for n in os.listdir(path) if n[0] not in "._"),
            default=None,
        )
    ts = (
        _footer_ts_type(sample, os.stat(sample).st_mtime_ns)
        if sample
        else schemas.STAR["events"]["ts"].dataType
    )
    nanos = isinstance(ts, T.LongType)
    if nanos and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true":
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        pdf = tbl.to_pandas()
        pdf["ts"] = pdf["ts"].dt.floor("us")
        return spark.createDataFrame(pdf, schema=schemas.STAR["events"])
    schema = T.StructType(
        [
            T.StructField(f.name, ts, True) if f.name == "ts" else f
            for f in schemas.STAR["events"].fields
        ]
    )
    raw = spark.read.schema(schema).parquet(path)
    if nanos:
        raw = raw.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return raw


def read_table(
    spark: SparkSession, sf_dir: str, name: str, *, fan: bool = False
) -> DataFrame:
    """Read one star-schema table from a scale-factor directory with its
    declared schema (no inference, no footer merging).

    ``fan=True`` wraps the scan in :func:`fan_out` (guarded round-robin
    repartition to the session's default parallelism, identity when the
    scan already carries enough splits — functions/partitioning.py):
    Spark splits parquet by bytes and never below one row group, so a
    small or single-row-group file scans as ONE task and a compute-dense
    map stage fed by it (shingling, hashing, dot products) runs on one
    core while the rest idle. Opt-in per call site, not universal: the
    exchange only pays for itself where downstream per-row work dwarfs
    the row-moving cost (A/B-measured per operator — cheap relational
    scans and broadcast-probe plans get slower, so they stay ``False``).
    Only for operators whose results are partition-independent (the
    oracle sweep re-proves each). Catalyst pushes filters and column
    pruning through Repartition, so PushedFilters/ReadSchema at the
    scan are unchanged.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = _read_events(spark, path)
    else:
        df = spark.read.schema(schemas.STAR[name]).parquet(path)
    if fan:
        from covid_engineering_spark.functions.partitioning import fan_out

        df = fan_out(df)
    return df


def write_partitioned(df: DataFrame, path: str, *keys: str) -> None:
    """Persist hive-partitioned parquet (one directory per key value).
    The analytics layout for the COVID model (SURVEY.md §4): cleaned
    data partitioned by country_region turns every per-country filter
    (P2 — the reference's hottest access path) into partition pruning:
    the files of other countries are never opened. Keep partition keys
    low-cardinality (countries: ~200 dirs); high-cardinality keys
    belong in bucketing instead.
    """
    df.write.mode("overwrite").partitionBy(*keys).parquet(path)


#: The bucketed layout: the order key both join sides carry, and the
#: bucket count.
BUCKET_KEY = "o_orderkey"
N_BUCKETS = 8


def write_bucketed(df: DataFrame, table: str, path: str) -> None:
    """Persist a table bucketed + sorted on its ``BUCKET_KEY`` join
    key. Two tables bucketed the same way equi-join with ZERO
    exchanges — at 100 TB this converts every recurring fact⨝fact
    join from a full shuffle into a per-bucket merge. The bucket count
    is a layout decision: pick it for the *target* cluster's
    parallelism, not the current data size (buckets are split across
    executors but never merged).
    """
    (
        df.write.format("parquet")
        .bucketBy(N_BUCKETS, BUCKET_KEY)
        .sortBy(BUCKET_KEY)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


#: Files of a range-clustered sink.
RANGE_FILES = 8


def write_range_sorted(df: DataFrame, path: str, key: str) -> None:
    """Persist parquet range-clustered on ``key``: rows are range
    partitioned into ``RANGE_FILES`` files and sorted within each, so
    every file owns a disjoint key interval. At 100 TB this is the
    layout that makes range predicates (time slices, id ranges) skip
    whole files on footer min/max stats instead of scanning and
    discarding — the poor man's clustering index, no table format
    required. Use for the dominant range-filter column; combine with
    ``partitionBy`` on a coarser key for two-level pruning.
    """
    (
        df.repartitionByRange(RANGE_FILES, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


#: Bits per dimension of the Z-order key.
ZORDER_BITS = 16


def zorder_value(x, y):
    """Morton / Z-order interleaved sort key for two non-negative
    integer columns of ``ZORDER_BITS`` each: bit i of ``x`` lands at
    position 2i, bit i of ``y`` at 2i+1. Sorting on the interleaved key gives
    BOTH dimensions file-level locality at once — the multi-column
    clustering technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``,
    here as a plain column expression over integer shifts/masks: pure
    whole-stage codegen, no UDF, and bit-identical in any engine, so a
    z-ordered layout's sort key can be recomputed and audited
    off-cluster. Callers must reduce inputs to [0, 2^ZORDER_BITS) first
    (modulo, epoch-day, quantile bucket — the reduction choice is the
    clustering policy). Combine with ``write_range_sorted`` on the
    returned key: range partitioning then gives every file a disjoint
    z-interval, i.e. a bounded rectangle-ish region of (x, y) space,
    and predicates on EITHER column skip files on footer min/max.
    """
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


#: Files a compaction rewrites a small-file directory into.
COMPACT_FILES = 4


def compact_parquet(
    spark: SparkSession, in_path: str, out_path: str, schema
) -> None:
    """Rewrite a small-file parquet directory into ``COMPACT_FILES``
    files. Small files are the dominant operational failure of long
    running ingest at scale: a scan's task count (and the namenode /
    object-store request load) is driven by FILE COUNT, not bytes.
    Compaction is a single narrow-read + round-robin repartition +
    write; run it per partition directory so each rewrite is bounded.
    On a cluster, pick the file count as bytes / 128 MB, never 1
    (one file serializes the next scan).
    """
    df = spark.read.schema(schema).parquet(in_path)
    df.repartition(COMPACT_FILES).write.mode("overwrite").parquet(out_path)


def register_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every star-schema table and register it as a temp view, so
    both the DataFrame API and ``spark.sql`` see the same tables. The
    loads are lazy: nothing is scanned until an action runs, so all
    ten cost only catalog metadata.
    """
    tables = {
        name: read_table(spark, sf_dir, name) for name in schemas.STAR_TABLES
    }
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables

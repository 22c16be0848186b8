"""Partition-pruned layout (SURVEY.md §4): cleaned COVID data written
hive-partitioned by country must turn the per-country equality filter
(P2 — the reference's hottest access path) into a PartitionFilter,
i.e. other countries' files are never opened.
"""

import os

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.plans import partition_filters, pushed_filters
from covid_engineering_spark.sources import read_table, write_partitioned

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def partitioned_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("part") / "by_segment")
    # customer partitioned by market segment stands in for the COVID
    # cleaned-by-country layout (same shape: low-cardinality string key).
    write_partitioned(
        read_table(spark, SF_SMOKE, "customer"), d, "c_mktsegment"
    )
    return d


def test_equality_filter_becomes_partition_pruning(spark, partitioned_dir):
    df = (
        spark.read.parquet(partitioned_dir)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    pf = partition_filters(df)
    assert pf and any("BUILDING" in p for p in pf), pf
    # the predicate is resolved by the directory layout, not the reader
    assert not any("c_mktsegment" in p for p in pushed_filters(df))


def test_partitioned_roundtrip_is_lossless(spark, partitioned_dir):
    back = spark.read.parquet(partitioned_dir)
    orig = read_table(spark, SF_SMOKE, "customer")
    assert back.count() == orig.count()
    got = {
        (r.c_custkey, r.c_mktsegment)
        for r in back.select("c_custkey", "c_mktsegment").collect()
    }
    want = {
        (r.c_custkey, r.c_mktsegment)
        for r in orig.select("c_custkey", "c_mktsegment").collect()
    }
    assert got == want


def test_range_sorted_files_own_disjoint_key_intervals(spark, tmp_path):
    """write_range_sorted's contract: every parquet file covers a
    disjoint o_orderdate interval (checked straight off the footers),
    which is what lets a range predicate skip whole files at scale."""
    import glob

    import pyarrow.parquet as pq

    from covid_engineering_spark.sources import write_range_sorted

    out = str(tmp_path / "orders_range")
    orders = read_table(spark, SF_SMOKE, "orders")
    write_range_sorted(orders, out, "o_orderdate")

    spans = []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "o_orderdate" and col.statistics:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        assert lo is not None, f
        spans.append((lo, hi))
    assert len(spans) >= 2
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        # range partition boundaries may share the boundary value
        assert lo_next >= hi_prev, spans

    # values survive the rewrite
    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_zorder_files_bound_both_dimensions(spark, tmp_path):
    """write_range_sorted on the Morton key: every file owns a
    disjoint z-interval, and — the point of z-ordering — each file's
    (custkey, day) bounding box is a small region of the plane, so
    predicates on EITHER column skip files on footer stats. A
    single-key range sort would bound one dimension and leave the
    other at full span."""
    import glob

    import pyarrow.parquet as pq

    from covid_engineering_spark.operators.ingest import (
        ZORDER_BITS,
        ZORDER_EPOCH,
    )
    from covid_engineering_spark.sources import (
        write_range_sorted,
        zorder_value,
    )

    out = str(tmp_path / "orders_z")
    orders = read_table(spark, SF_SMOKE, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1 << ZORDER_BITS)).cast("long")
    y = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit(ZORDER_EPOCH))
    ).cast("long")
    staged = orders.select(
        "o_orderkey",
        x.alias("zx"),
        y.alias("zy"),
        zorder_value(x, y).alias("zval"),
    )
    write_range_sorted(staged, out, "zval")

    def spans(col_name):
        got = []
        for f in sorted(glob.glob(os.path.join(out, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == col_name and col.statistics:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            assert lo is not None, f
            got.append((lo, hi))
        return got

    zs = spans("zval")
    assert len(zs) >= 2
    for (_, hi_prev), (lo_next, _) in zip(sorted(zs), sorted(zs)[1:]):
        assert lo_next >= hi_prev, zs  # disjoint z-intervals

    xs, ys = spans("zx"), spans("zy")
    gx = (min(l for l, _ in xs), max(h for _, h in xs))
    gy = (min(l for l, _ in ys), max(h for _, h in ys))
    global_area = (gx[1] - gx[0] + 1) * (gy[1] - gy[0] + 1)
    total_area = sum(
        (hx - lx + 1) * (hy - ly + 1) for (lx, hx), (ly, hy) in zip(xs, ys)
    )
    # naive (unclustered or single-key-sorted) layout: every file's box
    # covers ~the whole OTHER dimension, total ~= n_files * global.
    # z-order must do far better on both dims at once.
    assert total_area < 0.5 * len(xs) * global_area, (
        total_area,
        global_area,
        len(xs),
    )

    # values survive the rewrite
    assert spark.read.parquet(out).count() == orders.count()

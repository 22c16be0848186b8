from covid_engineering_spark.sources.io import (
    compact_parquet,
    read_covid_csv,
    read_table,
    register_star,
    sqlite_to_parquet,
    write_bucketed,
    write_partitioned,
    write_range_sorted,
    zorder_value,
)

__all__ = [
    "compact_parquet",
    "read_covid_csv",
    "read_table",
    "register_star",
    "sqlite_to_parquet",
    "write_bucketed",
    "write_partitioned",
    "write_range_sorted",
    "zorder_value",
]

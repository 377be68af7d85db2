from sentiment_analysis_bigdata_spark.sources.catalog import (
    ensure_min_parallelism,
    load_table,
    load_tables,
    local_frame,
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
)

__all__ = [
    "ensure_min_parallelism",
    "load_table",
    "load_tables",
    "local_frame",
    "read_csv",
    "read_json",
    "read_orc",
    "write_csv",
    "write_json",
    "write_orc",
    "write_parquet",
]

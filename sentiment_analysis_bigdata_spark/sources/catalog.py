"""Sources & sinks (SURVEY §2.1, S1-S5).

All reads take an explicit schema (engine policy, SURVEY §1.2) so no
inference pass ever runs. Parquet scans are the default — columnar,
splittable, predicate-pushdown-capable — which is what a 100 TB deployment
would use; CSV support exists for reference parity (the reference reads
headerless Sentiment140 CSV from HDFS, reference preprocessing.py:31-35).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sentiment_analysis_bigdata_spark import schemas


def _ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine's semantics depend on.

    The correctness driver passes its OWN SparkSession (built without our
    ``get_spark`` factory), so anything load-bearing must be (re)applied
    here, idempotently, on every table load:
    - ``nanosAsLong``: the testdata's events.ts is INT64 TIMESTAMP(NANOS),
      unreadable by Spark 4 otherwise;
    - session timezone UTC: timestamp→string formatting must match the
      oracle's naive strftime regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table from ``{sf_dir}/{name}.parquet``.

    Parquet carries its own schema; we don't force-cast so the scan stays a
    plain columnar read with pushdown. ``schemas.TESTDATA_TABLES`` documents
    the expected shape for tests.
    """
    if name not in schemas.TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(schemas.TESTDATA_TABLES)}")
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Timestamp normalization: the testdata has shipped as both INT64
    # TIMESTAMP(NANOS) (Spark reads it as long under
    # spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) (Spark reads it as TIMESTAMP_NTZ). Either way,
    # downstream operators expect a session-zoned TimestampType; with the
    # session timezone pinned to UTC (session.py) the NTZ→TZ cast is a pure
    # reinterpretation, and the nanos→micros conversion is exact.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        expected = schemas.TESTDATA_TABLES[name][field.name].dataType
        if isinstance(expected, T.TimestampType) and isinstance(field.dataType, T.LongType):
            # Integer DIV, not `/ 1000` double division: at ~1.7e18 ns a
            # double's ulp is 256, so float division can perturb the low
            # microseconds — integer division is exact.
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros(`{field.name}` DIV 1000)")
            )
        elif isinstance(expected, T.TimestampType) and isinstance(
            field.dataType, T.TimestampNTZType
        ):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def ensure_min_parallelism(df: DataFrame, n: int, key: str | None = None) -> DataFrame:
    """Parallelism floor for compute-heavy narrow pipelines: repartition to
    ``n`` ONLY when the plan currently has fewer partitions. Parquet splits
    at row-group granularity, so a small single-group file scans as one
    task no matter the core count — a tiny pre-shuffle then unlocks every
    core for md5/zlib/Arrow-kernel projections. When natural input splits
    already provide >= n partitions (any realistic at-scale read), this is
    a NO-OP and adds no shuffle.
    """
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key) if key else df.repartition(n)


def local_frame(
    spark: SparkSession, columns: Sequence, schema: str | T.StructType
) -> DataFrame:
    """Driver-held values as a local relation: one value sequence per
    field of ``schema`` (DDL string or StructType; lists or numpy arrays)
    becomes one Arrow table typed from that schema, which Spark keeps as a
    ``LocalTableScan`` — actions on it run no job. ``createDataFrame`` on
    a Python list instead goes through a pickled Python RDD, and every
    action on such a frame runs a job of ``defaultParallelism``
    Python-worker tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    if len(columns) != len(arrow):
        raise ValueError(f"{len(columns)} columns for a {len(arrow)}-field schema")
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``tbl = load_tables(spark, d, 'orders', ...)``."""
    if not names:
        names = tuple(schemas.TESTDATA_TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
    header: bool = False,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV scan (S1/S2; reference preprocessing.py:31-35).

    Default is the single-pass explicit-schema scan (S1). ``infer_schema``
    reproduces the reference's inferSchema mode
    (model_logistic_regression.py:71-75) for parity completeness — opt-in
    only, because inference costs an extra full scan of the data; at scale
    always pass the schema.
    """
    if infer_schema:
        return spark.read.csv(path, header=header, inferSchema=True)
    if schema is None:
        raise ValueError("read_csv needs a schema unless infer_schema=True")
    return spark.read.schema(schema).csv(path, header=header)


def write_csv(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Headered CSV sink (S3; reference preprocessing.py:166-169).

    ``coalesce`` (not ``repartition``) caps output file count without a
    shuffle, matching the reference's ``coalesce(4)`` choice.
    """
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    num_files: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink — the scale-default output format.

    ``partition_by`` gives directory-level partition pruning for downstream
    scans; use low-cardinality columns only (date buckets, categories).
    ``max_records_per_file`` splits oversized task outputs so a skewed final
    partition can't produce a multi-GB file (the writer rolls to a new file
    every N records) — at 100 TB this is what keeps downstream scan tasks
    uniform without an extra repartition shuffle.
    """
    if num_files is not None:
        df = df.coalesce(num_files)
    w = df.write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """JSON-lines sink (one object per row) — the interchange format for
    downstream non-Spark consumers; S5 generalized from driver-side
    ``json.dump`` (reference model_logistic_regression.py:221-229) to a
    distributed writer."""
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode("overwrite").json(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSON-lines scan with explicit schema — single pass, no inference
    (same policy as :func:`read_csv`; schema inference over JSON reads the
    whole dataset twice).

    ``keep_corrupt`` adds a ``_corrupt_record`` column (PERMISSIVE mode):
    malformed lines survive the scan with their raw text captured instead
    of silently becoming all-null rows — at ingest scale you quarantine
    them (``WHERE _corrupt_record IS NOT NULL`` → reject store) rather
    than fail the whole job (FAILFAST) or lose them (DROPMALFORMED).
    """
    if keep_corrupt:
        schema = T.StructType(
            [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
        )
        return (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """ORC sink — columnar alternative when the downstream stack is
    Hive/Trino-flavored; same pushdown/pruning properties as parquet."""
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (schema from file metadata, vectorized reader)."""
    return spark.read.orc(path)


def write_text(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """Plain-text lines sink: exactly one string column, one line per
    row — the interchange format for raw-corpus handoff to tokenizer /
    dedup tooling that speaks line-delimited text. Framing caveat is the
    caller's: a newline inside the column splits that row into two lines
    on read-back (escape upstream if the text can contain newlines —
    silently replacing here would change the data)."""
    cols = df.columns
    if len(cols) != 1:
        raise ValueError(f"text sink needs exactly one column, got {cols}")
    out = df.withColumnRenamed(cols[0], "value")
    if num_files is not None:
        out = out.coalesce(num_files)
    out.write.mode("overwrite").text(path)


def read_text(
    spark: SparkSession, path: str, whole: bool = False
) -> DataFrame:
    """Plain-text source: one row per line (``value`` string), or with
    ``whole=True`` one row per FILE — the raw-document ingestion shape
    (wholetext keeps a document's newlines; per-file rows mean file size,
    not line count, bounds a row)."""
    return spark.read.text(path, wholetext=whole)

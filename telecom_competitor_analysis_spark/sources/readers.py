"""Readers (SURVEY.md §2.1 S2/S3 + testdata loading).

The reference reads ``{"header": [...]}`` JSON documents
(reference dags/transform.py:32-49) and NDJSON relations
(reference dags/utils.py:81-84) with row loops; here both are one
declarative read each. Explicit ``schema=`` plays the pydantic-validation
role (reference dags/data_model.py:27-37): FAILFAST aborts on malformed
rows, PERMISSIVE + corrupt-record column gives the bad-row side channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from telecom_competitor_analysis_spark.schemas import TESTDATA_TABLES


def read_wrapped_json(
    spark: SparkSession,
    path: str | list[str],
    header: str,
    element_schema: T.StructType,
) -> DataFrame:
    """S2 — read a ``{"<header>": [...]}`` document and unwrap the array
    (reference dags/transform.py:32-49 ``json_to_list_of_dicts``).

    One ``multiLine`` read + ``explode`` + ``inline`` of the wrapped array;
    scales to any number of documents per glob or file list (each file one row
    pre-explode — fine for bronze, which is small by construction; the
    heavy tables enter as NDJSON/parquet).
    """
    wrapper = T.StructType(
        [T.StructField(header, T.ArrayType(element_schema), True)]
    )
    raw = spark.read.schema(wrapper).option("multiLine", True).json(path)
    return raw.select(F.explode(F.col(header)).alias("rec")).select("rec.*")


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fail_fast: bool = True,
) -> DataFrame:
    """S3 — newline-delimited JSON, Spark's native JSON layout
    (reference dags/utils.py:81-84 ``load_ndjson``). FAILFAST = the
    pydantic abort-on-violation semantics (reference
    dags/data_model.py:27-37)."""
    mode = "FAILFAST" if fail_fast else "PERMISSIVE"
    return spark.read.schema(schema).option("mode", mode).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fail_fast: bool = True,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """Schema-enforced CSV source — the remaining interchange format a
    user migrating from the reference's file handoffs would bring
    (reference passes raw JSON / cleaned NDJSON between stages; partner
    price feeds and warehouse EXPORTs are CSV). Same validation contract
    as ``read_ndjson``: explicit ``schema=`` (never inferSchema — a
    second full scan AND type drift between runs), FAILFAST to abort on
    malformed rows, or PERMISSIVE + a ``_corrupt_record`` column as the
    bad-row side channel.

    Scale note: uncompressed/bzip2 CSV is splittable, gzip is NOT (one
    task per .gz file — repartition right after read or re-stage the
    drop); schema-on-read keeps the scan a single pass either way."""
    mode = "FAILFAST" if fail_fast else "PERMISSIVE"
    reader = (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("header", str(header).lower())
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    Runtime-settable confs are pinned here too (not only in session.py) so
    the queries behave identically under a session the driver created:
    - ``nanosAsLong``: some testdata generations store events.ts as
      TIMESTAMP(NANOS), which the vectorized parquet reader rejects; read
      as long and rebuild the timestamp with integer division (ns are
      ~1.7e18 — far beyond double's 2^53 exact range, so never divide
      through a double).
    - ``timestamp_ntz`` normalization: other generations store
      ``timestamp[us]`` without the UTC-adjusted flag, which Spark 4 reads
      as TIMESTAMP_NTZ; functions like ``unix_micros`` reject NTZ. With the
      session timezone pinned to UTC below, casting NTZ→TIMESTAMP is a
      value-identical relabel, so every downstream query sees one canonical
      timestamp type regardless of how the parquet was written.
    - UTC session timezone: keeps ``date_format`` output identical to the
      DuckDB oracle regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all driver testdata tables keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}

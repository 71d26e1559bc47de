"""Reader/validation tests (SURVEY.md §2.1-§2.2): wrapped-JSON unwrap,
NDJSON with FAILFAST (the pydantic role), bad-row side channel, parquet
read with a kept schema."""

from __future__ import annotations

import ast
import json
import shutil
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from telecom_competitor_analysis_spark.schemas import RAW_PRODUCT
from telecom_competitor_analysis_spark.sources.readers import (
    read_ndjson,
    read_parquet,
    read_wrapped_json,
)
from tests.oracle_utils import job_ids

PACKAGE = (
    Path(__file__).resolve().parents[1] / "telecom_competitor_analysis_spark"
)

ROWS = [
    {
        "product_name": "mobile_prepaid_data_15_gb",
        "competitor_name": "mobileviking",
        "product_category": "mobile_prepaid",
        "product_url": "http://v/p1",
        "price": 15.0,
        "scraped_at": "2023-11-01",
        "data": 15.0,
        "minutes": -1.0,
        "sms": -1,
        "upload_speed": None,
        "download_speed": None,
    },
    {
        "product_name": "fast_internet",
        "competitor_name": "mobileviking",
        "product_category": "internet_subscription",
        "product_url": "http://v/i1",
        "price": 50.0,
        "scraped_at": "2023-11-01",
        "data": -1.0,
        "minutes": None,
        "sms": None,
        "upload_speed": "1gbps",
        "download_speed": "100mbps",
    },
]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_wrapped_json_unwrap(spark, tmpdir):
    """The reference's `{"products": [...]}` document shape
    (reference dags/transform.py:32-49)."""
    path = f"{tmpdir}/mobileviking_products.json"
    with open(path, "w") as f:
        json.dump({"products": ROWS}, f, indent=2)  # pretty JSON, multiline
    df = read_wrapped_json(spark, path, "products", RAW_PRODUCT)
    assert df.count() == 2
    got = {r.product_name: r for r in df.collect()}
    assert got["fast_internet"].upload_speed == "1gbps"
    assert got["mobile_prepaid_data_15_gb"].sms == -1


def test_ndjson_roundtrip_failfast(spark, tmpdir):
    path = f"{tmpdir}/products.ndjson"
    with open(path, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    df = read_ndjson(spark, path, RAW_PRODUCT, fail_fast=True)
    assert df.count() == 2


def test_ndjson_failfast_aborts_on_garbage(spark, tmpdir):
    """FAILFAST = the pydantic abort-on-violation semantics
    (reference dags/data_model.py:27-37)."""
    path = f"{tmpdir}/bad.ndjson"
    with open(path, "w") as f:
        f.write(json.dumps(ROWS[0]) + "\n")
        f.write("{not json at all\n")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_ndjson(spark, path, RAW_PRODUCT, fail_fast=True).count()
    # permissive mode: the bad row surfaces as nulls instead of aborting
    ok = read_ndjson(spark, path, RAW_PRODUCT, fail_fast=False)
    assert ok.count() == 2


def test_csv_roundtrip_and_validation(spark, tmp_path):
    from pyspark.sql import types as T

    from telecom_competitor_analysis_spark.sources.readers import read_csv

    p = tmp_path / "feed.csv"
    p.write_text(
        "product_id,price_cents\n1,1999\n2,2599\n3,999\n"
    )
    schema = T.StructType(
        [
            T.StructField("product_id", T.LongType(), True),
            T.StructField("price_cents", T.LongType(), True),
        ]
    )
    got = sorted(
        (r.product_id, r.price_cents)
        for r in read_csv(spark, str(p), schema).collect()
    )
    assert got == [(1, 1999), (2, 2599), (3, 999)]


def test_csv_failfast_aborts_and_permissive_captures(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from telecom_competitor_analysis_spark.sources.readers import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("product_id,price_cents\n1,1999\n2,not_a_number\n")
    schema = T.StructType(
        [
            T.StructField("product_id", T.LongType(), True),
            T.StructField("price_cents", T.LongType(), True),
        ]
    )
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        read_csv(spark, str(p), schema).collect()

    permissive_schema = schema.add("_corrupt_record", T.StringType(), True)
    rows = read_csv(
        spark, str(p), permissive_schema, fail_fast=False
    ).collect()
    bad = [r for r in rows if r._corrupt_record is not None]
    good = [r for r in rows if r._corrupt_record is None]
    assert len(bad) == 1 and "not_a_number" in bad[0]._corrupt_record
    assert [(r.product_id, r.price_cents) for r in good] == [(1, 1999)]


def test_python_datasource_matches_native_reader(spark, tmpdir):
    """The Spark 4 Python DataSource path (sources/pyds.py) must produce
    exactly what the Catalyst multiLine+explode path produces for the
    same wrapped-JSON documents, and must parallelize file-per-task."""
    from telecom_competitor_analysis_spark.sources.pyds import (
        WrappedJsonDataSource,
    )

    for i, name in enumerate(["a", "b"]):
        with open(f"{tmpdir}/{name}_products.json", "w") as f:
            json.dump({"products": ROWS}, f, indent=2)

    spark.dataSource.register(WrappedJsonDataSource)
    via_pyds = (
        spark.read.format("wrapped_json")
        .schema(RAW_PRODUCT)
        .option("header", "products")
        .load(f"{tmpdir}/*_products.json")
    )
    assert via_pyds.rdd.getNumPartitions() == 2  # one per file
    via_native = read_wrapped_json(
        spark, f"{tmpdir}/*_products.json", "products", RAW_PRODUCT
    )
    a = sorted(map(tuple, via_pyds.collect()))
    b = sorted(map(tuple, via_native.collect()))
    assert a == b and len(a) == 4


def test_python_datasource_writer_roundtrip_and_overwrite(spark, tmpdir):
    """The writer twin (sources/pyds.py::WrappedJsonWriter): df.write
    through the Python DataSource emits {"header": [...]} shards that
    BOTH read paths (PyDS and native explode) round-trip exactly;
    overwrite replaces prior shards; the two-phase staging dir never
    survives a committed job."""
    import glob
    import os

    from telecom_competitor_analysis_spark.sources.pyds import (
        WrappedJsonDataSource,
    )

    spark.dataSource.register(WrappedJsonDataSource)
    out = f"{tmpdir}/sink"
    df = spark.createDataFrame(ROWS, RAW_PRODUCT).repartition(3)
    (
        df.write.format("wrapped_json")
        .option("header", "products")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    shards = sorted(glob.glob(f"{out}/part-*.json"))
    assert 1 <= len(shards) <= 3  # one per NON-EMPTY task
    assert not glob.glob(f"{out}/_staging-*")  # staging cleaned up

    back = read_wrapped_json(spark, f"{out}/part-*.json", "products",
                             RAW_PRODUCT)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    via_pyds = (
        spark.read.format("wrapped_json")
        .schema(RAW_PRODUCT)
        .option("header", "products")
        .load(f"{out}/part-*.json")
    )
    assert sorted(map(tuple, via_pyds.collect())) == sorted(
        map(tuple, df.collect())
    )

    # overwrite: a second job with ONE row must replace the old shards
    one = spark.createDataFrame(ROWS[:1], RAW_PRODUCT).coalesce(1)
    (
        one.write.format("wrapped_json")
        .option("header", "products")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    again = read_wrapped_json(spark, f"{out}/part-*.json", "products",
                              RAW_PRODUCT)
    assert again.count() == 1

    # abort path (unit-level): staging vanishes, nothing becomes visible
    from telecom_competitor_analysis_spark.sources.pyds import (
        WrappedJsonWriter,
    )

    w = WrappedJsonWriter(RAW_PRODUCT, {"path": out}, overwrite=False)
    os.makedirs(w.staging, exist_ok=True)
    w.abort([])
    assert not os.path.exists(w.staging)
    assert read_wrapped_json(
        spark, f"{out}/part-*.json", "products", RAW_PRODUCT
    ).count() == 1


def test_python_datasource_writer_append_preserves_prior_jobs(spark, tmpdir):
    """Append mode must ADD shards, never clobber a previous job's
    (r8 review: fixed part-{i} names silently destroyed earlier
    appends — final names now carry the job id)."""
    from telecom_competitor_analysis_spark.sources.pyds import (
        WrappedJsonDataSource,
    )

    spark.dataSource.register(WrappedJsonDataSource)
    out = f"{tmpdir}/append_sink"
    for rows in (ROWS[:1], ROWS[1:2]):
        (
            spark.createDataFrame(rows, RAW_PRODUCT).coalesce(1)
            .write.format("wrapped_json")
            .option("header", "products")
            .option("path", out)
            .mode("append")
            .save()
        )
    back = read_wrapped_json(spark, f"{out}/part-*.json", "products",
                             RAW_PRODUCT)
    got = {r.product_name for r in back.collect()}
    assert got == {ROWS[0]["product_name"], ROWS[1]["product_name"]}


def test_read_parquet_infers_once_then_runs_no_job(spark, tmpdir):
    path = f"{tmpdir}/t.parquet"
    spark.range(5).selectExpr("id", "cast(id as string) s").write.parquet(path)
    first = []
    assert job_ids(spark, lambda: first.append(read_parquet(spark, path)))
    again = []
    assert not job_ids(spark, lambda: again.append(read_parquet(spark, path)))
    assert again[0].schema == first[0].schema
    assert first[0].schema == spark.read.parquet(path).schema
    assert sorted(again[0].collect()) == sorted(first[0].collect())


def test_read_parquet_sees_a_rewritten_schema(spark, tmpdir):
    path = f"{tmpdir}/t.parquet"
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).dtypes == [("id", "bigint")]
    # an added column
    spark.range(3).selectExpr("id", "'x' AS tag").write.mode(
        "overwrite"
    ).parquet(path)
    assert read_parquet(spark, path).dtypes == [
        ("id", "bigint"), ("tag", "string")
    ]
    # a changed type
    spark.range(3).selectExpr("cast(id AS string) id").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("id", "string")]
    assert sorted(r.id for r in df.collect()) == ["0", "1", "2"]


def test_read_parquet_keys_on_the_inference_confs(spark, tmpdir):
    # a BINARY column without a UTF8 annotation (pyarrow writes no Spark
    # schema into the footer) is binary or string by the session conf
    path = f"{tmpdir}/b.parquet"
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}),
                   path)
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert df.dtypes == [("b", "string")]
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset(key)
    assert read_parquet(spark, path).dtypes == [("b", "binary")]


def test_read_parquet_sees_an_added_file(spark, tmpdir):
    path = f"{tmpdir}/d"
    spark.range(3).coalesce(1).write.parquet(path)
    assert read_parquet(spark, path).count() == 3
    spark.range(3, 7).coalesce(1).write.mode("append").parquet(path)
    df = read_parquet(spark, path)
    assert sorted(r.id for r in df.collect()) == list(range(7))


def _schema_less_parquet_reads(tree: ast.AST) -> list[int]:
    """Lines of the ``….read.parquet(…)`` calls outside ``read_parquet``
    with no ``.schema(…)`` earlier in their call chain."""
    found = []

    def visit(node, in_reader):
        if isinstance(node, ast.FunctionDef) and node.name == "read_parquet":
            in_reader = True
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and not in_reader
        ):
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                else:
                    cur = cur.func
            if "read" in chain and "schema" not in chain:
                found.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, in_reader)

    visit(tree, False)
    return found


def test_guard_finds_a_schema_less_parquet_read():
    # the guard below catches the forms it must, and passes the others
    src = """
def f(spark, p):
    a = spark.read.parquet(p)
    b = spark.read.option("x", 1).parquet(p)
    c = spark.read.schema(s).parquet(p)
    d = read_parquet(spark, p)
    df.write.parquet(p)
def read_parquet(spark, p):
    return spark.read.parquet(p)
"""
    assert _schema_less_parquet_reads(ast.parse(src)) == [3, 4]


def test_every_parquet_read_supplies_its_schema():
    # the one schema-less read is read_parquet's own first read of a dataset
    found = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _schema_less_parquet_reads(ast.parse(p.read_text())))
    }
    assert found == {}

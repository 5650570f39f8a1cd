"""Parquet schemas from the footer (sources/readers.py
parquet_footer_schema): the derived StructType equals what Spark's own
inference produces, type for type, and query builds that go through it
start no Spark job."""

import contextlib
import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.readers import (
    parquet_footer_schema,
    read_parquet,
)

from conftest import TABLES, jobs_started

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _assert_matches_inference(spark, path):
    footer = parquet_footer_schema(spark, path)
    assert footer is not None
    assert footer.schema == spark.read.parquet(path).schema
    return footer


@pytest.mark.parametrize("table", TABLES)
def test_fixture_tables(spark, sf_dir, table):
    _assert_matches_inference(spark, f"{sf_dir}/{table}.parquet")


TS = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)

SYNTHETIC = {
    "decimal": pa.table({
        "d_small": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(9, 2)),
        "d_wide": pa.array([decimal.Decimal("1.00001"), None], pa.decimal128(30, 5)),
    }),
    "timestamps": pa.table({
        "utc_us": pa.array([TS, None], pa.timestamp("us", tz="UTC")),
        "naive_us": pa.array([TS, None], pa.timestamp("us")),
        "utc_ms": pa.array([TS, None], pa.timestamp("ms", tz="America/New_York")),
        "naive_ms": pa.array([TS, None], pa.timestamp("ms")),
        "day": pa.array([TS.date(), None], pa.date32()),
    }),
    "binary": pa.table({
        "b": pa.array([b"\x00\x01", None], pa.binary()),
        "fixed": pa.array([b"abcd", None], pa.binary(4)),
    }),
    "nested": pa.table({
        "xs": pa.array([[1, None, 3], None], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1, "b": "x"}, None], pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "m": pa.array([[("k", 1.5)], None], pa.map_(pa.string(), pa.float64())),
        "deep": pa.array(
            [[{"tags": ["p", "q"], "kv": [("z", [1, 2])]}], None],
            pa.list_(pa.struct([("tags", pa.list_(pa.string())),
                                ("kv", pa.map_(pa.string(), pa.list_(pa.int64())))])),
        ),
    }),
    "scalars": pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "u8": pa.array([1, None], pa.uint8()),
        "u16": pa.array([1, None], pa.uint16()),
        "u32": pa.array([1, None], pa.uint32()),
        "u64": pa.array([1, None], pa.uint64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "flag": pa.array([True, None], pa.bool_()),
        "big_s": pa.array(["x", None], pa.large_string()),
        "dict_s": pa.array(["x", None]).dictionary_encode(),
    }),
    "non_nullable": pa.Table.from_pydict(
        {"id": [1, 2], "xs": [[1], [2, 3]], "st": [{"a": "x"}, {"a": "y"}]},
        schema=pa.schema([
            pa.field("id", pa.int64(), nullable=False),
            pa.field("xs", pa.list_(pa.field("item", pa.int32(), nullable=False)), nullable=False),
            pa.field("st", pa.struct([pa.field("a", pa.string(), nullable=False)]), nullable=False),
        ]),
    ),
}


@pytest.mark.parametrize("case", sorted(SYNTHETIC))
def test_synthetic_types(spark, tmp_path, case):
    """Each type family the footer mapping handles, written by pyarrow
    (no Spark schema in the footer, so the parquet types are mapped)."""
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(SYNTHETIC[case], path)
    _assert_matches_inference(spark, path)
    assert sorted(read_parquet(spark, path).collect(), key=str) == sorted(
        spark.read.parquet(path).collect(), key=str
    )


def test_nanos_is_long_like_inference(spark, tmp_path):
    """TIMESTAMP(NANOS) maps to long, which is what Spark infers when it
    accepts the column at all (nanosAsLong)."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"id": [1], "ts": pa.array([TS], pa.timestamp("ns"))}), path)
    with _conf(spark, NANOS_AS_LONG, "true"):
        footer = _assert_matches_inference(spark, path)
    assert footer.nanos == ["ts"]


def test_int96_from_spark_written_directory(spark, tmp_path):
    """Spark's default timestamp encoding is INT96; a directory's schema
    comes from its first data file, past _SUCCESS and .crc files."""
    path = str(tmp_path / "int96")
    spark.createDataFrame(
        [(1, TS, decimal.Decimal("1.25"))], "id int, ts timestamp, d decimal(12,2)"
    ).repartition(2).write.parquet(path)
    assert any(f.startswith(("_", ".")) for f in os.listdir(path))
    data = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert pq.ParquetFile(os.path.join(path, data[0])).metadata.schema.column(1).physical_type == "INT96"
    _assert_matches_inference(spark, path)


def test_int96_without_spark_schema(spark, tmp_path):
    """An INT96 column from a non-Spark writer maps to timestamp too,
    not to the timestamp_ntz a plain Arrow conversion would give."""
    path = str(tmp_path / "int96_arrow.parquet")
    pq.write_table(pa.table({"ts": pa.array([TS], pa.timestamp("us"))}), path,
                   use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(path).metadata.schema.column(0).physical_type == "INT96"
    _assert_matches_inference(spark, path)


def test_hive_partitioned_directory(spark, tmp_path):
    """Partition columns are not in any footer: Spark discovers them from
    the path under the explicit schema just as it does when inferring."""
    path = str(tmp_path / "hive")
    pq.write_to_dataset(
        pa.table({"k": ["a", "b", "b"], "day": [1, 2, 2], "v": [1.5, 2.5, 3.5]}),
        path, partition_cols=["k", "day"],
    )
    footer = parquet_footer_schema(spark, path)
    inferred = spark.read.parquet(path)
    assert footer.schema.fieldNames() == ["v"]
    assert [f for f in inferred.schema if f.name == "v"] == list(footer.schema)
    ours = read_parquet(spark, path)
    assert ours.schema == inferred.schema
    assert sorted(ours.collect()) == sorted(inferred.collect())


def test_merge_schema_is_the_inference_path(spark, tmp_path):
    """mergeSchema reads every footer, so read_parquet leaves it to Spark:
    a column only the second file has still shows up."""
    path = str(tmp_path / "merge")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "p0.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), os.path.join(path, "p1.parquet"))
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path, {"mergeSchema": "true"}).columns == ["a", "b"]


def test_reads_leave_nanos_as_long_unchanged(spark, tmp_path):
    """Neither the batch reader nor the entry's event stream changes
    session configuration, NANOS inputs included."""
    import __spark_entry__ as em

    events = pa.table({
        "event_id": [1], "ts": pa.array([TS], pa.timestamp("ns")), "user_id": [7],
        "event_type": ["click"], "value": [1.5], "props": ["{}"],
    })
    pq.write_table(events, str(tmp_path / "events.parquet"))
    before = spark.conf.get(NANOS_AS_LONG)
    assert read_parquet(spark, str(tmp_path / "events.parquet")).first()["ts"] == TS
    stream = em._events_stream(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    assert spark.conf.get(NANOS_AS_LONG) == before


#: Registry entries whose OPERATOR runs jobs while the query is built, by
#: design: bfs_levels localCheckpoints every frontier, generalize_to_k
#: runs one bounded level-selection job. Their view registration is
#: pinned by the all-tables _views call below.
EAGER_OPERATORS = {"bfs_reachability", "k_generalize"}


def test_view_builds_start_no_jobs(spark, sf_dir):
    """statusTracker pin: building every registry entry that registers
    its tables through _sql or _views starts 0 Spark jobs: no schema
    inference, no eager work."""
    import __spark_entry__ as em

    through_views = {
        name: fn for name, fn in em.queries().items()
        if fn.__qualname__.startswith("_sql.") or "_views" in fn.__code__.co_names
    }
    assert len(through_views) > 60 and EAGER_OPERATORS <= set(through_views)

    def build_all():
        for name, fn in sorted(through_views.items()):
            if name not in EAGER_OPERATORS:
                fn(spark, sf_dir)
        em._views(spark, sf_dir, em.TABLES)

    assert jobs_started(spark, build_all) == []


def test_sql_entries_register_only_named_tables(spark, sf_dir):
    """An _sql entry registers the tables its text names, and no others."""
    import __spark_entry__ as em

    try:
        for t in em.TABLES:
            spark.catalog.dropTempView(t)
        em.queries()["top_orders_per_customer"](spark, sf_dir)
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert views & set(em.TABLES) == {"customer", "orders"}
    finally:
        em._views(spark, sf_dir, em.TABLES)

"""S10/W8 executed for REAL against the embedded Apache Derby driver
that ships inside Spark's jar directory (derby-10.16 — present in every
stock Spark distribution for the Hive metastore). Until round 7 the
JDBC source/sink were pinned only by contract doubles because no
driver jar was thought to be available; these tests run the actual
DataSource V1 JDBC path end-to-end in-JVM:

  - engine write → Derby (truncateInsert / simpleInsert) → engine read
  - tableQuery pushdown (the spark.json:36 surface) with real SQL
    executed BY DERBY, not by Spark
  - partitioned reads (partitionColumn/numPartitions) producing real
    parallel scans
  - the database error-record sink (writers.write_error_records), the
    last NotImplementedError branch in the sink family

Derby folds unquoted identifiers to uppercase while Spark writes quoted
lowercase columns — queries sent THROUGH to Derby must quote, which is
itself worth a regression test (it is exactly the class of bug a
contract double cannot catch).
"""

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.engine import (
    Orchestrator,
)

#: one shared in-memory DB per test JVM; create=true is idempotent
URL = "jdbc:derby:memory:enginetest;create=true"


def _src(spark, tmp_path, rows=None):
    path = str(tmp_path / "jdbc_src")
    spark.createDataFrame(
        rows
        or [(i, f"name-{i % 4}", float(i) * 1.5) for i in range(40)],
        "id bigint, name string, v double",
    ).write.mode("overwrite").parquet(path)
    return path


def _write_cfg(name, src_path, table, load_type="truncateInsert", jdbc_props=None):
    return {
        "configs": {
            "name": name,
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": src_path,
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "ident",
                    "sqlQuery": "SELECT * FROM src",
                    "outputDFName": "out",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "database",
                    "dataFrameName": "out",
                    "loadType": load_type,
                    "tableName": table,
                    "jdbcUrl": URL,
                    **({"jdbcProperties": jdbc_props} if jdbc_props else {}),
                }
            ]
        },
    }


def _read_cfg(name, out_path, table=None, query=None, jdbc_props=None):
    input_data = {
        "dataSource": "database",
        "dataFrameName": "db_in",
        "jdbcUrl": URL,
    }
    if table:
        input_data["tableName"] = table
    if query:
        input_data["tableQuery"] = query
    if jdbc_props:
        input_data["jdbcProperties"] = jdbc_props
    return {
        "configs": {"name": name, "phase_1": {"input_data": input_data}},
        "phase_2": {
            "data_transformations": [
                {
                    "functionName": "ident",
                    "sqlQuery": "SELECT * FROM db_in",
                    "outputDFName": "out",
                }
            ]
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "out",
                    "loadType": "truncateInsert",
                    "path": out_path,
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ]
        },
    }


def test_engine_roundtrip_truncate_and_append(spark, tmp_path):
    src = _src(spark, tmp_path)
    orch = Orchestrator(spark)
    orch.run(_write_cfg("w1", src, "rt_table"))
    out = str(tmp_path / "rt_out")
    orch.run(_read_cfg("r1", out, table="rt_table"))
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert {r["name"] for r in got.select("name").distinct().collect()} == {
        f"name-{i}" for i in range(4)
    }
    # truncateInsert again: DDL survives, rows replaced not doubled
    orch.run(_write_cfg("w2", src, "rt_table"))
    orch.run(_read_cfg("r2", out, table="rt_table"))
    assert spark.read.parquet(out).count() == 40
    # simpleInsert appends onto the standing table
    orch.run(_write_cfg("w3", src, "rt_table", load_type="simpleInsert"))
    orch.run(_read_cfg("r3", out, table="rt_table"))
    assert spark.read.parquet(out).count() == 80


def test_database_target_reconciliation_reads_the_table(spark, tmp_path):
    """``reconciliation`` on a database target reads the table back over
    JDBC: expected == written == the rows loaded, and an append
    reconciles its count delta over the rows already there."""
    src = _src(spark, tmp_path)
    orch = Orchestrator(spark)
    for name, load in (("rc1", "truncateInsert"), ("rc2", "simpleInsert")):
        cfg = _write_cfg(name, src, "rc_table", load_type=load)
        cfg["phase_3"]["target_record_insert"][0]["reconciliation"] = "true"
        rec = orch.run(cfg).write_results[0]["reconciliation"]
        assert rec["ok"] and rec["expected"] == rec["written"] == 40
    assert rec["pre_existing"] == 40


def test_table_query_pushdown_runs_in_derby(spark, tmp_path):
    src = _src(spark, tmp_path)
    orch = Orchestrator(spark)
    # Spark's DerbyDialect maps StringType to CLOB, which Derby refuses
    # to GROUP BY — createTableColumnTypes (the standard JDBC writer
    # option, passed through jdbcProperties) pins a comparable VARCHAR;
    # exactly the class of behavior a contract double cannot surface
    orch.run(
        _write_cfg(
            "wq", src, "pq_table",
            jdbc_props={"createTableColumnTypes": "name VARCHAR(64)"},
        )
    )
    out = str(tmp_path / "pq_out")
    # the aggregation below executes INSIDE Derby (Spark wraps it as a
    # subquery); identifiers must be quoted because Spark created them
    # quoted-lowercase and Derby upcases bare names
    orch.run(
        _read_cfg(
            "rq",
            out,
            query='SELECT "name", COUNT(*) AS "n", SUM("v") AS "total" '
            'FROM pq_table GROUP BY "name"',
        )
    )
    got = {r["name"]: (r["n"], r["total"]) for r in spark.read.parquet(out).collect()}
    assert set(got) == {f"name-{i}" for i in range(4)}
    assert all(n == 10 for n, _ in got.values())
    exp = {}
    for i in range(40):
        k = f"name-{i % 4}"
        exp[k] = exp.get(k, 0.0) + i * 1.5
    assert all(abs(got[k][1] - exp[k]) < 1e-9 for k in exp)


def test_partitioned_read_produces_parallel_scans(spark, tmp_path):
    src = _src(spark, tmp_path)
    orch = Orchestrator(spark)
    orch.run(_write_cfg("wp", src, "part_table"))
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import (
        InputSpec,
    )
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sources.readers import (
        read_input,
    )

    spec = InputSpec.from_dict(
        {
            "dataSource": "database",
            "dataFrameName": "db_in",
            "jdbcUrl": URL,
            "tableName": "part_table",
            "jdbcProperties": {
                "partitionColumn": '"id"',
                "lowerBound": "0",
                "upperBound": "40",
                "numPartitions": "4",
            },
        }
    )
    df = read_input(spark, spec)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 40


def test_database_error_sink_quarantines(spark, tmp_path):
    rows = [
        (None, "2024-01-01", "a"),
        (1, "2024-01-01", "b"),
        (2, "2024-01-01", "c"),
    ]
    path = str(tmp_path / "dirty")
    spark.createDataFrame(rows, "pk int, ts string, v string").write.parquet(path)
    cfg = {
        "configs": {
            "name": "err_db",
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "src",
                    "path": path,
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
            "thresholdLimit": "50%",
        },
        "phase_2": {
            "data_transformations": [
                {"functionName": "ident", "sqlQuery": "SELECT * FROM src", "outputDFName": "out"}
            ],
            "data_validation_required": "true",
            "data_validations": {
                "nullValueValidation": "true",
                "nullValueCheck": {"primaryKeys": ["pk"]},
            },
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "out",
                    "loadType": "truncateInsert",
                    "path": str(tmp_path / "good_out"),
                    "outputDataProperties": {"fileFormat": "parquet"},
                }
            ],
            "ErrorRecordInsert": {
                "fileTarget": "database",
                "tableName": "quarantine",
                "jdbcUrl": URL,
            },
        },
    }
    result = Orchestrator(spark).run(cfg)
    assert result.bad_count == 1
    q = (
        spark.read.format("jdbc")
        .option("url", URL)
        .option("dbtable", "quarantine")
        .load()
    )
    rows_q = q.collect()
    assert len(rows_q) == 1
    assert rows_q[0]["__error_reason"] == "null_primary_key"
    assert rows_q[0]["pk"] is None


def test_database_error_sink_requires_config(spark):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import (
        ErrorSinkSpec,
    )
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.sinks.writers import (
        write_error_records,
    )

    bad = spark.createDataFrame([(1,)], "pk int")
    with pytest.raises(ValueError, match="jdbcUrl"):
        write_error_records(
            spark, bad, ErrorSinkSpec(file_target="database"), "why"
        )

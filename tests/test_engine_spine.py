"""Minimum slice (SURVEY.md §7.1): JSON config → read parquet → register
view → sqlQuery transform → write parquet, end to end."""

import duckdb
import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark import Orchestrator
from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.config import JobConfig


def q1_config(sf_dir: str, out_dir: str) -> dict:
    return {
        "configs": {
            "name": "q1_pricing_summary",
            "sparkConfig": {"spark.sql.shuffle.partitions": "8"},
            "thresholdLimit": "30%",
            "phase_1": {
                "input_data": {
                    "dataSource": "local",
                    "dataFrameName": "lineitem",
                    "path": f"{sf_dir}/lineitem.parquet",
                    "fileProperties": {"fileFormat": "parquet"},
                }
            },
        },
        "phase_2": {
            "data_transformation_required": "true",
            "data_transformations": [
                {
                    "functionName": "pricing summary report",
                    "sqlQuery": """
                        SELECT l_returnflag, l_linestatus,
                               ROUND(SUM(l_quantity), 2) AS sum_qty,
                               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                               COUNT(*) AS count_order
                        FROM lineitem
                        WHERE l_shipdate <= DATE '1998-09-02'
                        GROUP BY l_returnflag, l_linestatus
                        ORDER BY l_returnflag, l_linestatus
                    """,
                    "outputDFName": "pricing_summary",
                }
            ],
        },
        "phase_3": {
            "target_record_insert": [
                {
                    "dataTarget": "local",
                    "dataFrameName": "pricing_summary",
                    "loadType": "truncateInsert",
                    "path": f"{out_dir}/pricing_summary",
                    "outputDataProperties": {"fileFormat": "parquet", "savemode": "overwrite"},
                    "reconciliation": "true",
                }
            ]
        },
    }


def test_q1_end_to_end(spark, sf_dir, tmp_path):
    result = Orchestrator(spark).run(q1_config(sf_dir, str(tmp_path)))
    out = result.output
    rows = out.collect()
    assert len(rows) > 0
    assert result.write_results[0]["reconciliation"]["ok"]

    # oracle: same SQL in duckdb
    oracle = duckdb.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM '{sf_dir}/lineitem.parquet'
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).fetchall()
    got = [tuple(r) for r in rows]
    assert got == [tuple(r) for r in oracle]


def test_config_parse_reference_template_shape(sf_dir):
    cfg = JobConfig.from_dict(q1_config(sf_dir, "/tmp/x"))
    assert cfg.name == "q1_pricing_summary"
    assert cfg.primary_input.dataframe_name == "lineitem"
    assert cfg.threshold_limit == 0.3
    assert cfg.transformations[0].output_df_name == "pricing_summary"
    assert cfg.targets[0].load_type == "truncateInsert"


def test_job_spark_config_is_restored_after_run(spark, sf_dir, tmp_path):
    """A job's sparkConfig holds for its run only. After a successful run
    and after a failing one, a key that was set has its prior value again
    and a key that was unset is unset again."""
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.sql.files.maxRecordsPerFile"
    prior = spark.conf.get(set_key)
    spark.conf.unset(unset_key)
    job_confs = {set_key: str(int(prior) + 3), unset_key: "100000"}

    ok = q1_config(sf_dir, str(tmp_path / "ok"))
    ok["configs"]["sparkConfig"] = job_confs
    Orchestrator(spark).run(ok)
    assert spark.conf.get(set_key) == prior
    assert spark.conf.get(unset_key, None) is None

    bad = q1_config(sf_dir, str(tmp_path / "bad"))
    bad["configs"]["sparkConfig"] = job_confs
    bad["phase_2"]["data_transformations"][0]["sqlQuery"] = "SELECT no_such_col FROM lineitem"
    with pytest.raises(Exception, match="no_such_col"):
        Orchestrator(spark).run(bad)
    assert spark.conf.get(set_key) == prior
    assert spark.conf.get(unset_key, None) is None

"""CI-time config validation (plans/validate.py): lint + Catalyst
analysis dry run. The reference repo's whole point is configs deployed
through CI/CD (reference README/buildspec) — this is the pre-merge gate
that answers "will this config run?" without running it."""

import json
import os

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans.validate import (
    validate_config,
    validate_manifest,
)

SF = "/root/testdata/sf0.001"


def _base_cfg(tmp_path, sql="SELECT o_orderkey, o_custkey FROM orders", **over):
    cfg = {
        "configs": {"name": "j", "phase_1": {"input_data": {
            "dataSource": "local", "dataFrameName": "orders",
            "path": f"{SF}/orders.parquet",
            "fileProperties": {"fileFormat": "parquet"}}}},
        "phase_2": {"data_transformations": [{
            "functionName": "t", "sqlQuery": sql, "outputDFName": "out"}]},
        "phase_3": {"target_record_insert": [{
            "dataTarget": "local", "dataFrameName": "out",
            "loadType": "simpleInsert", "path": str(tmp_path / "out"),
            "fileFormat": "parquet"}]},
    }
    cfg.update(over)
    return cfg


def test_valid_config_passes_and_reports_schemas(spark, tmp_path):
    before = {v.name for v in spark.catalog.listTables()}
    rep = validate_config(spark, _base_cfg(tmp_path))
    assert rep.ok, [str(f) for f in rep.findings]
    assert rep.schemas["out"] == ["o_orderkey", "o_custkey"]
    # dry run left no NEW temp views behind (views other suite tests
    # registered earlier under the same names are preserved by design)
    assert {v.name for v in spark.catalog.listTables()} == before
    # and wrote nothing
    assert not os.path.exists(str(tmp_path / "out"))


def test_analysis_catches_bad_column_and_bad_view(spark, tmp_path):
    rep = validate_config(
        spark, _base_cfg(tmp_path, sql="SELECT no_such_col FROM orders")
    )
    assert not rep.ok
    assert any("no_such_col" in str(f) for f in rep.errors)
    rep2 = validate_config(
        spark, _base_cfg(tmp_path, sql="SELECT 1 AS x FROM no_such_view")
    )
    assert not rep2.ok


def test_structural_lint(spark, tmp_path):
    cfg = _base_cfg(tmp_path)
    cfg["phase_3"]["target_record_insert"][0]["loadType"] = "simpleinsert"
    rep = validate_config(spark, cfg)
    assert any("did you mean 'simpleInsert'" in str(f) for f in rep.errors)
    cfg = _base_cfg(tmp_path)
    del cfg["configs"]["phase_1"]["input_data"]["path"]
    rep = validate_config(spark, cfg)
    assert any("no path" in str(f) for f in rep.errors)
    cfg = _base_cfg(tmp_path)
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "nope"
    rep = validate_config(spark, cfg)
    assert any("which no step defines" in str(f) for f in rep.errors)
    # scd2 without keys
    cfg = _base_cfg(tmp_path)
    cfg["phase_3"]["target_record_insert"][0]["loadType"] = "scdType2Insert"
    rep = validate_config(spark, cfg)
    assert any("scd2Keys" in str(f) for f in rep.errors)


def test_operator_step_lint_without_execution(spark, tmp_path):
    """Operator steps are linted (name + signature) but NEVER run: a
    deltaMerge against a nonexistent table must not fail the dry run on
    execution grounds, and a typo'd operator/param is an error."""
    cfg = _base_cfg(tmp_path)
    cfg["phase_2"]["data_transformations"].append({
        "operatorName": "deltaMerge", "inputDFName": "out",
        "operatorParams": {"table_path": "/nonexistent/delta", "on_keys": "o_orderkey"},
        "outputDFName": "merged"})
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "merged"
    rep = validate_config(spark, cfg)
    assert rep.ok, [str(f) for f in rep.findings]  # no execution = no failure
    assert "merged" in rep.placeholders
    # typo'd operator name
    cfg["phase_2"]["data_transformations"][1]["operatorName"] = "deltamerge"
    rep = validate_config(spark, cfg)
    assert any("did you mean 'deltaMerge'" in str(f) for f in rep.errors)
    # unknown parameter (deltaDelete has an explicit signature —
    # deltaMerge takes **kw, so its extras are forwarded, not linted)
    cfg["phase_2"]["data_transformations"][1]["operatorName"] = "deltaDelete"
    cfg["phase_2"]["data_transformations"][1]["operatorParams"] = {
        "table_path": "/x", "condition": "1=1", "nonsense_param": 1}
    rep = validate_config(spark, cfg)
    assert any("nonsense_param" in str(f) for f in rep.errors)
    # missing required parameter
    cfg["phase_2"]["data_transformations"][1]["operatorParams"] = {"table_path": "/x"}
    rep = validate_config(spark, cfg)
    assert any("condition" in str(f) and "required" in str(f) for f in rep.errors)


def test_sql_over_placeholder_degrades_to_syntax_check(spark, tmp_path):
    cfg = _base_cfg(tmp_path)
    cfg["phase_2"]["data_transformations"] += [
        {"operatorName": "deltaMerge", "inputDFName": "out",
         "operatorParams": {"table_path": "/x", "on_keys": "k"},
         "outputDFName": "merged"},
        {"functionName": "s", "sqlQuery": "SELECT COUNT(*) AS n FROM merged",
         "outputDFName": "summary"},
    ]
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "summary"
    rep = validate_config(spark, cfg)
    assert rep.ok
    assert any("syntax check" in str(f) for f in rep.warnings)
    # an actual syntax error in the degraded statement is still caught
    cfg["phase_2"]["data_transformations"][2]["sqlQuery"] = "SELEC broken FROM merged"
    rep = validate_config(spark, cfg)
    assert not rep.ok


def test_validation_keys_and_target_columns_checked(spark, tmp_path):
    cfg = _base_cfg(tmp_path)
    cfg["phase_2"]["data_validation_required"] = "true"
    cfg["phase_2"]["data_validations"] = {
        "nullValueValidation": "true",
        "nullValueCheck": {"primaryKeys": ["no_such_key"]},
    }
    rep = validate_config(spark, cfg)
    assert any("no_such_key" in str(f) for f in rep.errors)
    cfg = _base_cfg(tmp_path)
    cfg["phase_3"]["target_record_insert"][0]["partitionBy"] = ["ghost_col"]
    rep = validate_config(spark, cfg)
    assert any("ghost_col" in str(f) for f in rep.errors)


def test_database_input_skipped_unless_connect(spark, tmp_path):
    cfg = _base_cfg(tmp_path, sql="SELECT 1 AS one")
    cfg["configs"]["phase_1"]["input_data"] = {
        "dataSource": "database", "dataFrameName": "db_in",
        "jdbcUrl": "jdbc:derby:memory:nope", "tableName": "t"}
    rep = validate_config(spark, cfg)
    assert rep.ok
    assert any("connect=True" in str(f) for f in rep.warnings)
    assert "db_in" in rep.placeholders


def test_params_and_raise_on_error(spark, tmp_path):
    cfg = _base_cfg(tmp_path, sql="SELECT o_orderkey FROM orders WHERE o_orderkey < ${cap}")
    rep = validate_config(spark, cfg, params={"cap": "100"})
    assert rep.ok
    rep = validate_config(spark, cfg)  # missing param -> parse error
    assert not rep.ok
    with pytest.raises(ValueError, match="validation failed"):
        rep.raise_on_error()


def test_orchestrator_validate_facade(spark, tmp_path):
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark import (
        Orchestrator,
    )

    assert Orchestrator(spark).validate(_base_cfg(tmp_path)).ok


def test_validate_manifest(spark, tmp_path):
    c1 = _base_cfg(tmp_path)
    p1 = tmp_path / "j1.json"
    p1.write_text(json.dumps(c1))
    manifest = {
        "name": "pipe",
        "tasks": [
            {"name": "a", "config": str(p1)},
            {"name": "b", "config": str(p1), "dependsOn": ["a"]},
        ],
    }
    rep = validate_manifest(spark, manifest)
    assert rep.ok, [str(f) for f in rep.findings]
    # unknown dependency + cycle
    manifest["tasks"][0]["dependsOn"] = ["b"]
    rep = validate_manifest(spark, manifest)
    assert any("cycle" in str(f) for f in rep.errors)
    manifest["tasks"][0]["dependsOn"] = ["ghost"]
    rep = validate_manifest(spark, manifest)
    assert any("unknown task" in str(f) for f in rep.errors)
    # a broken job config surfaces under its task name
    bad = _base_cfg(tmp_path, sql="SELECT ghost FROM orders")
    p2 = tmp_path / "j2.json"
    p2.write_text(json.dumps(bad))
    rep = validate_manifest(
        spark, {"name": "p", "tasks": [{"name": "z", "config": str(p2)}]}
    )
    assert any(str(f).startswith("ERROR") and "task[z]" in str(f) for f in rep.errors)


def test_cli_main(spark, tmp_path):
    """The CI shape: exit 0 on a valid config, 1 on a broken one."""
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.plans import (
        validate as vmod,
    )

    good = tmp_path / "good.json"
    good.write_text(json.dumps(_base_cfg(tmp_path)))
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps(_base_cfg(tmp_path, sql="SELECT ghost FROM orders")))
    assert vmod.main([str(good)]) == 0
    assert vmod.main([str(good), str(bad)]) == 1


def test_non_query_sql_is_never_executed(spark, tmp_path):
    """spark.sql() runs INSERT/CREATE/DROP EAGERLY — the dry run must
    syntax-check them only, never execute. A config whose step would
    write into a parquet path leaves that path untouched after
    validation; a syntax error inside the non-query is still caught."""
    victim = str(tmp_path / "victim")
    spark.range(3).write.parquet(victim)
    cfg = _base_cfg(tmp_path)
    cfg["phase_2"]["data_transformations"].append({
        "functionName": "danger",
        "sqlQuery": f"INSERT OVERWRITE DIRECTORY '{victim}' USING parquet SELECT * FROM out",
        "outputDFName": "inserted"})
    rep = validate_config(spark, cfg)
    assert rep.ok
    assert any("not a query" in str(f) for f in rep.warnings)
    assert "inserted" in rep.placeholders
    assert spark.read.parquet(victim).count() == 3  # untouched
    # leading comments don't fool the detector in either direction
    cfg["phase_2"]["data_transformations"][1]["sqlQuery"] = (
        "-- a comment\n/* block */ SELECT o_orderkey FROM out")
    rep = validate_config(spark, cfg)
    assert rep.ok and "inserted" in rep.schemas
    # a broken non-query is still a syntax error
    cfg["phase_2"]["data_transformations"][1]["sqlQuery"] = "INSERT INTOO broken"
    rep = validate_config(spark, cfg)
    assert not rep.ok


def test_pure_operator_schema_synthesis_keeps_downstream_analysis(spark, tmp_path):
    """A pure df→df operator step (hashSplit) no longer degrades the
    chain: its output schema is synthesized on an EMPTY input, so a
    downstream sqlQuery column typo is a full ANALYSIS ERROR, nothing
    is executed against data, and the session stays clean."""
    before = {v.name for v in spark.catalog.listTables()}

    def _cfg(sql):
        cfg = _base_cfg(tmp_path)
        cfg["phase_2"]["data_transformations"] += [
            {"operatorName": "hashSplit", "inputDFName": "out",
             "operatorParams": {"id_col": "o_orderkey",
                                "weights": {"train": 9, "holdout": 1}},
             "outputDFName": "splits"},
            {"functionName": "s", "sqlQuery": sql, "outputDFName": "summary"},
        ]
        cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "summary"
        return cfg

    rep = validate_config(
        spark, _cfg("SELECT split, COUNT(*) AS n FROM splits GROUP BY split")
    )
    assert rep.ok, [str(f) for f in rep.findings]
    assert rep.schemas["splits"] == ["o_orderkey", "o_custkey", "split"]
    assert "splits" not in rep.placeholders
    assert not any("syntax check" in str(f) for f in rep.warnings)
    # the whole point: a typo'd column in SQL over the OPERATOR OUTPUT
    # is a hard analysis error, not a degraded parse-only pass
    rep2 = validate_config(
        spark, _cfg("SELECT splitz, COUNT(*) AS n FROM splits GROUP BY splitz")
    )
    assert not rep2.ok
    assert any("splitz" in str(f) for f in rep2.errors)
    # hygiene: no temp views left behind, nothing written
    assert {v.name for v in spark.catalog.listTables()} == before
    assert not os.path.exists(str(tmp_path / "out"))
    # a synthesis failure (bad operator params at plan time) degrades
    # with a warning instead of failing the validation outright
    cfg3 = _cfg("SELECT 1 AS x FROM splits")
    cfg3["phase_2"]["data_transformations"][1]["operatorParams"] = {
        "id_col": "no_such_column", "weights": {"a": 1, "b": 1}}
    rep3 = validate_config(spark, cfg3)
    assert rep3.ok
    assert any("could not be synthesized" in str(f) for f in rep3.warnings)
    assert "splits" in rep3.placeholders


def test_dry_run_never_drops_preexisting_session_views(spark, tmp_path):
    spark.range(7).createOrReplaceTempView("orders")  # user's own view
    try:
        rep = validate_config(spark, _base_cfg(tmp_path))
        # NB: the user's view shadows the input name, so analysis may
        # error on missing columns — irrelevant here; what matters is
        # the session is left exactly as it was found.
        assert spark.catalog.tableExists("orders")
        # ... and RESTORED to its original definition, not left pointing
        # at the validator's parquet read (no side effects on later sql())
        assert spark.table("orders").count() == 7
    finally:
        spark.catalog.dropTempView("orders")


def test_cte_wrapped_and_multi_insert_dml_never_executed(spark, tmp_path):
    """'WITH cte AS (...) INSERT INTO ...' and 'FROM src INSERT INTO ...'
    start like queries but are DML — the parsed-plan classifier must
    degrade them to a syntax check, never hand them to spark.sql()."""
    victim = str(tmp_path / "victim_tbl")
    spark.range(5).write.parquet(victim)
    for dml in (
        f"WITH c AS (SELECT * FROM out) INSERT OVERWRITE DIRECTORY '{victim}' USING parquet SELECT * FROM c",
        f"FROM out INSERT OVERWRITE DIRECTORY '{victim}' USING parquet SELECT o_orderkey",
    ):
        cfg = _base_cfg(tmp_path)
        cfg["phase_2"]["data_transformations"].append(
            {"functionName": "d", "sqlQuery": dml, "outputDFName": "dml_out"})
        rep = validate_config(spark, cfg)
        assert rep.ok, [str(f) for f in rep.findings]
        assert any("not a query" in str(f) for f in rep.warnings)
        assert "dml_out" in rep.placeholders
        assert spark.read.parquet(victim).count() == 5  # untouched
    # plain FROM-first and CTE SELECTs are still fully analyzed queries
    for q, cols in (
        ("FROM out SELECT o_orderkey AS k", ["k"]),
        ("WITH c AS (SELECT o_orderkey AS k FROM out) SELECT * FROM c", ["k"]),
    ):
        cfg = _base_cfg(tmp_path)
        cfg["phase_2"]["data_transformations"].append(
            {"functionName": "q", "sqlQuery": q, "outputDFName": "q_out"})
        rep = validate_config(spark, cfg)
        assert rep.ok and rep.schemas["q_out"] == cols


def test_dry_run_restores_replaced_view_and_drops_table_shadow(spark, tmp_path):
    """Two session-hygiene contracts: (1) a pre-existing temp view whose
    name a config reuses for a TRANSFORM output is restored to its
    original definition; (2) a temp view the dry run creates over a name
    that matches a CATALOG TABLE is dropped, not left shadowing it."""
    spark.range(4).selectExpr("id AS k").createOrReplaceTempView("out")
    try:
        rep = validate_config(spark, _base_cfg(tmp_path))
        assert rep.ok, [str(f) for f in rep.findings]
        assert [f.name for f in spark.table("out").schema.fields] == ["k"]
        assert spark.table("out").count() == 4
    finally:
        spark.catalog.dropTempView("out")
    # catalog-table shadow: create a real table named like the transform
    # output; validate() must not leave a temp view shadowing it
    spark.sql("DROP TABLE IF EXISTS out")
    spark.range(2).selectExpr("id AS tbl_col").write.saveAsTable("out")
    try:
        rep = validate_config(spark, _base_cfg(tmp_path))
        assert rep.ok, [str(f) for f in rep.findings]
        cat = spark._jsparkSession.sessionState().catalog()
        assert not cat.getRawTempView("out").isDefined()
        assert spark.table("out").columns == ["tbl_col"]
    finally:
        spark.sql("DROP TABLE IF EXISTS out")


def test_library_bound_operator_params_are_linted(spark, tmp_path):
    """A library-bound step exposes its library signature, so the dry run
    flags a misspelt parameter (``num_hash`` for ``num_hashes``) that a
    ``**kw`` adapter used to forward unchecked."""
    cfg = _base_cfg(tmp_path)
    cfg["phase_2"]["data_transformations"].append({
        "operatorName": "minhashNearDups", "inputDFName": "out",
        "operatorParams": {"id_col": "o_orderkey", "text_col": "o_custkey",
                           "num_hash": "32"},
        "outputDFName": "pairs"})
    cfg["phase_3"]["target_record_insert"][0]["dataFrameName"] = "pairs"
    rep = validate_config(spark, cfg)
    assert any(
        "does not accept parameter(s) ['num_hash']" in str(f) for f in rep.errors
    ), [str(f) for f in rep.findings]
    cfg["phase_2"]["data_transformations"][1]["operatorParams"] = {
        "id_col": "o_orderkey", "text_col": "o_custkey", "num_hashes": "32"}
    rep = validate_config(spark, cfg)
    assert not any("does not accept" in str(f) for f in rep.errors)

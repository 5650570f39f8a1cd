"""The Orchestrator: interprets one JSON job config as a 3-phase Spark job.

PySpark-native re-implementation of the reference engine's entry point
(``com.xyz.spark.etl.main.Orchestrator --config_json <path>``,
``example-shareprice.py:78-88``) over the dialect in ``spark.json:1-108``.

Execution model (SURVEY.md §3, entry point A):
  1. apply per-job sparkConfig (spark.json:3-6), restored when the run ends
  2. duplicateRunCheck idempotency gate (spark.json:8)
  3. pre-execution bash hooks + junk-char cleanse flag (spark.json:26-31)
  4. phase_1: read primary + additional inputs, register temp views
     (spark.json:13-38)
  5. phase_2a: null-PK / duplicate validation as one tagged pass, then
     the thresholdLimit gate (spark.json:41-52, :7)
  6. phase_2b: ordered Spark SQL transformations, each registering its
     outputDFName view (spark.json:54-65) — Catalyst owns optimization
  7. count validation (spark.json:66)
  8. phase_3: error sink, fan-out writes, SCD2, reconciliation, archival,
     post hooks (spark.json:68-107)

Scale notes: views are lazy; nothing is collected except validation counts
(which the dialect requires). Validation tags each row's lane once; one
grouped count over the checkpointed tags feeds both gates, which pass
before the quarantine or any target is written.
"""

from __future__ import annotations

import subprocess
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import JobConfig
from ..operators.cleansing import remove_junk_characters
from ..operators.runledger import RunLedger, input_fingerprint
from ..operators.validation import ERROR_REASON, count_within_threshold, tag_lanes
from ..session import apply_job_confs, restore_confs
from ..sinks.writers import archive_input, write_error_records, write_target


class ThresholdExceeded(RuntimeError):
    """V4: error-lane share (or count variance) beyond thresholdLimit."""


@dataclass
class JobResult:
    job_name: str
    views: dict[str, DataFrame] = field(default_factory=dict)
    output_name: str | None = None
    input_count: int = 0
    bad_count: int = 0
    write_results: list[dict] = field(default_factory=list)
    skipped_duplicate_run: bool = False
    phase_secs: dict[str, float] = field(default_factory=dict)
    total_secs: float = 0.0
    error: str | None = None

    @property
    def output(self) -> DataFrame | None:
        return self.views.get(self.output_name) if self.output_name else None

    def to_metrics(self) -> dict:
        """JSON-able run record (the ``metricsPath`` sidecar payload —
        what an Airflow task log / EMR step summary would show)."""
        return {
            "job_name": self.job_name,
            "skipped_duplicate_run": self.skipped_duplicate_run,
            "input_count": self.input_count,
            "bad_count": self.bad_count,
            "output_name": self.output_name,
            "views": sorted(self.views),
            "phase_secs": {k: round(v, 3) for k, v in self.phase_secs.items()},
            "total_secs": round(self.total_secs, 3),
            "writes": self.write_results,
            "error": self.error,
        }


class Orchestrator:
    """Runs JobConfigs against a SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # §2.9: make the Python-tier functions available to config SQL
        from ..functions.register import register_sql_functions

        register_sql_functions(spark)

    # -- public API --------------------------------------------------------

    def validate(
        self,
        config: JobConfig | dict[str, Any] | str,
        params: dict[str, Any] | None = None,
        connect: bool = False,
    ):
        """CI-time dry run: lint the config and push every SQL step
        through Catalyst's ANALYZER against the real input schemas —
        no job runs, nothing is written, operator steps are never
        invoked. Returns a ``ValidationReport`` (``.ok``, ``.findings``,
        ``.raise_on_error()``). See ``plans/validate.py``."""
        from .validate import validate_config

        return validate_config(self.spark, config, params=params, connect=connect)

    def run(
        self,
        config: JobConfig | dict[str, Any] | str,
        params: dict[str, Any] | None = None,
    ) -> JobResult:
        if isinstance(config, str):
            config = JobConfig.from_json(config, params=params)
        elif isinstance(config, dict):
            config = JobConfig.from_dict(config, params=params)
        elif params:
            raise ValueError(
                "params require a raw config (dict or JSON path) — a parsed "
                "JobConfig has already had its placeholders resolved"
            )

        result = JobResult(job_name=config.name)
        import time as _time

        t_start = _time.monotonic()
        # the job's sparkConfig holds for this run only: restored below,
        # so it never leaks into the caller's session
        prior_confs = apply_job_confs(self.spark, config.spark_config)
        try:
            if config.temp_path:
                # W13 (spark.json:9): engine scratch / checkpoint location
                import os as _os

                self.spark.sparkContext.setCheckpointDir(
                    _os.path.join(config.temp_path, "checkpoints")
                )
            return self._run_phases(config, result, _time)
        except BaseException as exc:
            result.error = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            result.total_secs = _time.monotonic() - t_start
            self._write_metrics(config, result)
            restore_confs(self.spark, prior_confs)

    def _write_metrics(self, config: JobConfig, result: JobResult) -> None:
        """Run-observability sidecar: when ``configs.metricsPath`` is
        set, every run — success, skip, or failure — leaves one JSON
        record (phase timings, counts, per-target write records, the
        error if any). The file is written atomically; a metrics write
        failure never masks the job outcome."""
        if not config.metrics_path:
            return
        import datetime as _dt
        import json as _json
        import os as _os
        import uuid as _uuid

        try:
            _os.makedirs(config.metrics_path, exist_ok=True)
            stamp = _dt.datetime.now(_dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
            path = _os.path.join(
                config.metrics_path,
                f"{config.name}_{stamp}_{_uuid.uuid4().hex[:8]}.json",
            )
            tmp = path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                _json.dump(result.to_metrics(), fh, indent=1, default=str)
            _os.replace(tmp, path)
        except Exception:  # noqa: BLE001 — metrics are best-effort
            # observability; ANY failure here (OSError, an unserializable
            # write record, ...) must never mask the job's real outcome
            pass

    def _run_phases(self, config: JobConfig, result: JobResult, _time) -> JobResult:
        # V5 duplicate-run gate
        ledger = None
        fp = None
        if config.duplicate_run_check and config.temp_path:
            paths = [s.path for s in [config.primary_input, *config.additional_inputs] if s and s.path]
            fp = input_fingerprint(paths, spark=self.spark)
            ledger = RunLedger(config.temp_path, spark=self.spark)
            if ledger.seen(config.name, fp):
                result.skipped_duplicate_run = True
                return result

        self._run_scripts(config.pre_scripts)

        t0 = _time.monotonic()
        result.views.update(self._phase1_ingest(config))
        result.phase_secs["ingest"] = _time.monotonic() - t0

        t0 = _time.monotonic()
        bad = self._phase2_validate(config, result)
        result.phase_secs["validate"] = _time.monotonic() - t0
        # V4 gate: active whenever validation is on AND thresholdLimit was
        # given. An explicit "0%" means zero tolerance (any bad row fails)
        # — consistent with V3 below, where 0 means exact count match; a
        # missing key disables the gate (bad rows only quarantine).
        if config.data_validation_required and config.threshold_limit is not None:
            total = result.input_count + result.bad_count
            if total and result.bad_count / total > config.threshold_limit:
                raise ThresholdExceeded(
                    f"{result.bad_count}/{total} rows failed validation "
                    f"(limit {config.threshold_limit:.0%})"
                )

        t0 = _time.monotonic()
        out_name = self._phase2_transform(config, result)
        result.output_name = out_name
        result.phase_secs["transform"] = _time.monotonic() - t0
        t0 = _time.monotonic()  # V3 gate + quarantine + loads ("load" phase)

        # V3 transformed-count validation
        # Semantics (the reference never defines them, SURVEY.md §7.3d):
        # |input - output| / input must be ≤ thresholdLimit; with a zero
        # threshold the counts must match exactly. Opt-in per job.
        if config.transformed_count_validation and out_name and not result.views[out_name].isStreaming:
            input_count = result.input_count or (
                result.views[config.primary_input.dataframe_name].count()
                if config.primary_input
                else 0
            )
            out_count = result.views[out_name].count()
            limit = config.threshold_limit or 0.0
            if not count_within_threshold(input_count, out_count, limit):
                raise ThresholdExceeded(
                    f"transformed count {out_count} vs input {input_count} "
                    f"outside threshold {limit:.0%}"
                )

        # error lane → quarantine sink, only once every gate has passed
        if result.bad_count and config.error_sink:
            write_error_records(self.spark, bad, config.error_sink, F.col(ERROR_REASON))

        # phase_3 loads
        for target in config.targets:
            df = result.views.get(target.dataframe_name)
            if df is None:
                raise KeyError(f"target references unknown view '{target.dataframe_name}'")
            if df.isStreaming:
                self._streaming_load(config, target, df, result)
            else:
                result.write_results.append(write_target(self.spark, df, target))

        result.phase_secs["load"] = _time.monotonic() - t0

        # archival + ledger + post hooks
        if config.archive_input_file and config.primary_input and config.primary_input.path:
            archive_input(
                config.primary_input.path,
                config.archive_path,
                config.delete_source_after_archival,
                spark=self.spark,
            )
        if ledger is not None and fp is not None:
            ledger.record(config.name, fp)
        self._run_scripts(config.post_scripts)
        return result

    def _streaming_load(self, config: JobConfig, target, df: DataFrame, result: JobResult) -> None:
        """Streaming execution mode (``"streaming": "true"`` on the input):
        the SQL chain ran against a streaming view, so the load is a
        checkpointed ``foreachBatch`` write reusing the batch load modes.
        ``Trigger.AvailableNow`` processes exactly the unseen input and
        stops — the reference's incremental cron-batch posture
        (spark.json:8-12) with checkpoint bookkeeping instead of a
        fingerprint ledger. Delta-lite targets are exactly-once: each batch
        commits with ``txn=(<query id>, batch_id)``, so a replayed batch
        lands once; other targets are at-least-once. Requires
        ``s3TempPath`` for the checkpoint."""
        from ..streaming.ops import foreach_batch_writer

        if not config.temp_path:
            raise ValueError("streaming jobs need s3TempPath for the checkpoint location")
        import os as _os

        ckpt = _os.path.join(
            config.temp_path, "stream_ckpt", config.name, target.dataframe_name
        )
        q = (
            df.writeStream.foreachBatch(foreach_batch_writer(target, ckpt))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result.write_results.append({"path": target.path, "loadType": target.load_type,
                                     "streaming": True, "checkpoint": ckpt})

    # -- phases -------------------------------------------------------------

    def _phase1_ingest(self, config: JobConfig) -> dict[str, DataFrame]:
        from ..sources.readers import read_input

        views: dict[str, DataFrame] = {}
        specs = ([config.primary_input] if config.primary_input else []) + config.additional_inputs
        for spec in specs:
            df = read_input(self.spark, spec)
            if config.junk_character_removal:
                df = remove_junk_characters(df)
            df.createOrReplaceTempView(spec.dataframe_name)
            views[spec.dataframe_name] = df
        return views

    def _phase2_validate(self, config: JobConfig, result: JobResult) -> DataFrame | None:
        """Applies V1/V2 to the primary input view in one tagged pass: the
        valid rows replace the view, one grouped count sets ``input_count``
        and ``bad_count``; returns the tagged invalid rows."""
        if not config.data_validation_required or not config.primary_input:
            return None
        name = config.primary_input.dataframe_name
        df = result.views[name]
        if df.isStreaming:
            raise NotImplementedError(
                "count-based validations need bounded input; for streaming "
                "jobs use streaming.ops (watermarked dedup) and keep "
                "data_validation_required false"
            )
        v = config.validations
        null_keys = v.null_primary_keys if v.null_value_validation else []
        dup_keys = v.dup_primary_keys if v.duplicate_record_validation else []
        # the count, the valid lane and the quarantine all read these rows.
        # localCheckpoint, NOT cache: a cached deterministic subtree is
        # silently substituted into any identical later plan, leaking state
        # across runs and pinning memory for the session's lifetime
        tagged = tag_lanes(df, null_keys, dup_keys, v.dup_order_by_cols).localCheckpoint(eager=False)
        counts = dict(tagged.groupBy(ERROR_REASON).count().collect())
        result.input_count = counts.pop(None, 0)
        result.bad_count = sum(counts.values())
        good = tagged.filter(F.col(ERROR_REASON).isNull()).drop(ERROR_REASON)
        good.createOrReplaceTempView(name)
        result.views[name] = good
        return tagged.filter(F.col(ERROR_REASON).isNotNull())

    def _phase2_transform(self, config: JobConfig, result: JobResult) -> str | None:
        """Ordered transformation chain; each step sees all prior views
        (spark.json:54-65). A step is either a SQL statement (Catalyst
        parses/optimizes it) or a registered operator applied to
        ``inputDFName`` — both register their output as the next view, so
        they chain freely and the whole job stays one lazy plan."""
        if not config.data_transformation_required:
            return config.primary_input.dataframe_name if config.primary_input else None
        out_name = None
        for t in config.transformations:
            if t.operator_name:
                from ..operators.registry import apply_operator

                in_name = t.input_df_name or out_name or (
                    config.primary_input.dataframe_name if config.primary_input else None
                )
                if in_name is None or in_name not in result.views:
                    raise KeyError(
                        f"operator '{t.operator_name}' references unknown "
                        f"input view '{in_name}'"
                    )
                df = apply_operator(t.operator_name, result.views[in_name], t.operator_params)
            else:
                df = self.spark.sql(t.resolve_sql())
            df.createOrReplaceTempView(t.output_df_name)
            result.views[t.output_df_name] = df
            out_name = t.output_df_name
        return out_name or (config.primary_input.dataframe_name if config.primary_input else None)

    # -- hooks ---------------------------------------------------------------

    @staticmethod
    def _run_scripts(scripts: list[str]) -> None:
        """O7: pre/post bash hooks (spark.json:28-30, :103-105)."""
        for cmd in scripts:
            subprocess.run(cmd, shell=True, check=True)

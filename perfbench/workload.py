"""The measured process: one fresh Python process per run, started by
``run.py``.

    python3 perfbench/workload.py --workload etl_chain --work DIR --trace 0

It builds the session the way ``bench.py`` does, constructs an
``Orchestrator`` and prints ``READY`` — the parent times set-up from the
spawn to that line. Then it runs the workload's fixed operation sequence
as a closed loop with one client, checks every operation's output after
its clock stops, and prints one ``RESULT`` JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import sizes  # noqa: E402
from stats import OpLoop, median, self_times  # noqa: E402

PACKAGE = "building_and_operating_data_pipelines_at_scale_using_ci_cd_spark"

#: etl_chain: the config jobs of one operation, in order
ETL_JOBS = ("fetch_prices", "scd2_daily_ranges", "sessions")

#: query_mix: one pass builds and writes these registry entries.
#: top_orders_per_customer carries the ``_views`` build (ten schema
#: reads), a shuffle join and a window; dedup_keep_latest a window dedup;
#: flac_decode the Arrow/pandas boundary (mapInPandas decode). Why not
#: a twelve-query pass, and not q5: see NOTES.md.
QUERY_MIX = ("top_orders_per_customer", "dedup_keep_latest", "flac_decode")

LAYERS = ("op", "config", "engine", "readers", "writers", "delta_lite", "streaming", "query", "spark")


def _span(tracer, name: str, layer: str):
    """The tracer's span, or nothing on an untraced run."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, layer)


def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(base, f))
            out[os.path.join(base, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or rewritten between two
    listings."""
    changed = [size for p, (size, mt) in after.items() if before.get(p) != (size, mt)]
    return sum(changed), len(changed)


class EtlChain:
    """One operation is one DAG run for day d: fetch_prices (ingest,
    validate, quarantine, transform, truncateInsert), then
    scd2_daily_ranges (scdType2Insert into delta-lite), then one
    availableNow increment of the sessions stream."""

    def __init__(self, spark, orch, work: str, tracer=None):
        self.orch = orch
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        os.makedirs(os.path.join(self.inputs, "events"), exist_ok=True)
        with open(os.path.join(work, "expected.json")) as fh:
            self.expected = json.load(fh)["ops"]
        self.input_rows = 0

    def prepare(self, i: int) -> int:
        """Untimed: the day's event file lands in the watched directory.
        Returns the operation's input bytes."""
        day = f"{i:02d}"
        shutil.copy(os.path.join(self.inputs, "events_staged", f"inc{day}.json"),
                    os.path.join(self.inputs, "events", f"inc{day}.json"))
        exp = self.expected[i]
        self.input_rows = exp["ticks_in"] + exp["ranges_in"] + exp["events_in"]
        return sum(os.path.getsize(p) for p in (
            f"{self.inputs}/ticks/day={day}/ticks.parquet",
            f"{self.inputs}/ranges/day={day}/ranges.parquet",
            f"{self.inputs}/events/inc{day}.json"))

    def op(self, i: int):
        params = {"inputs": self.inputs, "out": self.out, "day": f"{i:02d}",
                  "effective_ts": f"2024-02-{i + 1:02d} 00:00:00"}
        results = []
        for job in ETL_JOBS:
            cfg = os.path.join(HERE, "configs", f"{job}.json")
            with _span(self.tracer, f"job.{job}", "op"):
                results.append(self.orch.run(cfg, params=params))
        return results

    def check(self, i: int, results) -> list[str]:
        from checks import check_fetch_prices, check_scd2, check_sessions

        exp = self.expected[i]
        return (check_fetch_prices(self.out, f"{i:02d}", exp, results[0])
                + check_scd2(self.out, exp) + check_sessions(self.out, exp))


class QueryMix:
    """One operation is one pass that builds each mix query and writes its
    result as parquet."""

    def __init__(self, spark, orch, work: str, tracer=None):
        import __spark_entry__ as entry_mod
        from checks import query_oracles

        self.spark = spark
        self.tracer = tracer
        self.tables = os.path.join(work, "inputs", "tables")
        self.out = os.path.join(work, "out")
        self.qs = entry_mod.queries()
        self.oracles = query_oracles(self.tables, QUERY_MIX)
        with open(os.path.join(work, "expected.json")) as fh:
            self.input_rows = sum(json.load(fh)["rows"].values())
        self.in_bytes = sum(os.path.getsize(os.path.join(self.tables, f)) for f in os.listdir(self.tables))
        self.catalyst: list[dict] = []

    def prepare(self, i: int) -> int:
        return self.in_bytes

    def op(self, i: int):
        from tracing import catalyst_phases

        tr = self.tracer
        for name in QUERY_MIX:
            path = os.path.join(self.out, "q", name)
            with _span(tr, f"query.{name}.build", "query"):
                df = self.qs[name](self.spark, self.tables)
            if tr is not None:
                self.catalyst.append({"op": i, "name": name, **catalyst_phases(df)})
            with _span(tr, f"query.{name}.exec", "spark"):
                df.write.mode("overwrite").parquet(path)
        return None

    def check(self, i: int, _results) -> list[str]:
        from checks import check_query

        bad = []
        for name in QUERY_MIX:
            bad += check_query(os.path.join(self.out, "q", name), name, self.oracles[name])
        return bad


def _delta_stats(out: str, seen: set) -> dict:
    """Commit statistics of the delta-lite log entries written since the
    last call."""
    log = os.path.join(out, "history", "_delta_log")
    st = {"delta_lite.commits": 0, "delta_lite.files_added": 0, "delta_lite.files_removed": 0,
          "delta_lite.bytes_added": 0, "delta_lite.log_bytes": 0}
    for f in sorted(os.listdir(log)) if os.path.isdir(log) else []:
        p = os.path.join(log, f)
        if p in seen or not (f.endswith(".json") or ".checkpoint" in f):
            continue
        seen.add(p)
        st["delta_lite.log_bytes"] += os.path.getsize(p)
        if not f.endswith(".json") or f.startswith("_"):
            continue
        st["delta_lite.commits"] += 1
        with open(p) as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    st["delta_lite.files_added"] += 1
                    st["delta_lite.bytes_added"] += action["add"].get("size", 0)
                elif "remove" in action:
                    st["delta_lite.files_removed"] += 1
    return st


def _stream_stats(progress: list[dict]) -> dict:
    """Sums over one operation's micro-batches; state figures from its
    last batch."""
    st = {"stream.batches": len(progress)}
    for key, name in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms"), ("queryPlanning", "query_planning_ms"),
                      ("latestOffset", "latest_offset_ms")):
        st[f"stream.{name}"] = sum(p.get("durationMs", {}).get(key, 0) for p in progress)
    last = progress[-1].get("stateOperators", []) if progress else []
    st["stream.state_rows"] = sum(s.get("numRowsTotal", 0) for s in last)
    st["stream.state_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in last)
    st["stream.state_instances"] = sum(s.get("numStateStoreInstances", 0) for s in last)
    st["stream.state_commit_ms"] = sum(
        s.get("commitTimeMs", 0) for p in progress for s in p.get("stateOperators", []))
    return st


def _op_layers(tracer, rec: dict) -> dict[str, float]:
    """Per-layer numbers of one traced operation."""
    spans = [s for s in tracer.spans if s["op"] == rec["op"] and s["end"] is not None]
    jobs = rec["counts"]["jobs"]
    m: dict[str, float] = {f"self.{layer}_s": 0.0 for layer in LAYERS}
    selfs = self_times(spans)
    for s in spans:
        m[f"self.{s['layer']}_s"] += selfs[s["id"]]

    def by(pred):
        # outermost matching spans only: read_input may call read_parquet
        ids = {s["id"] for s in spans if pred(s["name"])}
        sel = [s for s in spans if s["id"] in ids and s["parent"] not in ids]
        inside = [j for j in jobs if any(s["start"] <= j["t"] <= s["end"] for s in sel)]
        return sum(s["end"] - s["start"] for s in sel), inside, len(sel)

    m["readers.s"], js, m["readers.calls"] = by(lambda n: n.startswith("sources.readers."))
    m["readers.jobs"] = len(js)
    for key, name in (("target", "plans.engine.write_target"), ("error", "plans.engine.write_error_records")):
        m[f"writers.{key}_s"], js, _ = by(lambda n, name=name: n == name)
        m[f"writers.{key}_jobs"] = len(js)
    for key, suffix in (("merge", "merge_scd2_delta_lite"), ("read", "read_delta_lite")):
        m[f"delta_lite.{key}_s"], js, _ = by(lambda n, s=suffix: n.endswith(s))
        m[f"delta_lite.{key}_jobs"] = len(js)
    m["stream.foreach_batch_s"], _, _ = by(lambda n: n == "streaming.foreach_batch")
    _, js, _ = by(lambda n: n == "plans.engine.Orchestrator.run")
    m["engine.jobs"] = len(js)
    m["engine.stages"] = sum(j["stages"] for j in js)
    m["engine.tasks"] = sum(j["tasks"] for j in js)
    for job in ETL_JOBS:
        m[f"job.{job}.s"], js, _ = by(lambda n, job=job: n == f"job.{job}")
        m[f"job.{job}.jobs"] = len(js)
    phases: dict[str, float] = {}
    for r in rec["results"] or []:
        for k, v in r.phase_secs.items():
            phases[k] = phases.get(k, 0.0) + v
    for k in ("ingest", "validate", "transform", "load"):
        m[f"engine.phase.{k}_s"] = phases.get(k, 0.0)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = sum(j["stages"] for j in jobs)
    m["exec.tasks"] = sum(j["tasks"] for j in jobs)
    m.update({f"exec.{k}": v for k, v in rec["counts"]["exec"].items()})
    m.update({f"pyboundary.{k}": v for k, v in rec["counts"]["pyboundary"].items()})
    for name in QUERY_MIX:
        m[f"query.{name}.build_s"], js, _ = by(lambda n, name=name: n == f"query.{name}.build")
        m[f"query.{name}.build_jobs"] = len(js)
        m[f"query.{name}.exec_s"], _, _ = by(lambda n, name=name: n == f"query.{name}.exec")
    m.update(rec["delta"])
    m.update(rec["stream"])
    m.update(rec["written"])
    return m


def _catalyst(work, ops: list[int]) -> dict[str, float]:
    """Catalyst phase times of the mix queries over the given operations
    (all zero for a workload that builds no registry query)."""
    out: dict[str, float] = {f"plan.{k}_ms": 0.0 for k in ("analysis", "optimization", "planning")}
    rows = [r for r in getattr(work, "catalyst", []) if r["op"] in ops]
    for name in QUERY_MIX:
        mine = [r for r in rows if r["name"] == name]
        out[f"query.{name}.plan_ms"] = median([r["optimization"] + r["planning"] for r in mine])
        for k in ("analysis", "optimization", "planning"):
            out[f"plan.{k}_ms"] += median([r[k] for r in mine])
    return out


def measure(work, loop: OpLoop, n_ops: int, cores: int, tracer=None) -> dict:
    """The fixed operation sequence: operation 0 in the fresh process,
    then ``loop.warmup`` ramp operations, then the sampled ones, ``n_ops``
    in all. A traced run runs the same sequence with every operation
    traced; only the sampled operations give per-layer figures."""
    out_dir = work.out
    os.makedirs(out_dir, exist_ok=True)
    amp, rps, layer_ops, traced_ops = [], [], [], []
    delta_seen: set = set()
    for i in range(n_ops):
        in_bytes = work.prepare(i)
        before = _tree(out_dir)
        box: dict = {}

        def op(i=i, box=box):
            if tracer is not None:
                tracer.op_id = i
            with _span(tracer, "op", "op"):
                box["res"] = work.op(i)
            return box["res"]

        secs = loop.run(op, lambda res, i=i: work.check(i, res))
        after = _tree(out_dir)
        if secs is None or i <= loop.warmup:
            if tracer is not None:  # charge its jobs and commits to no sample
                tracer.collect(secs or 0.0, cores)
                _delta_stats(out_dir, delta_seen)
            continue
        amp.append(_written(before, after)[0] / in_bytes)
        rps.append(work.input_rows / secs)
        if tracer is None:
            continue
        delta = _delta_stats(out_dir, delta_seen)
        live = 0
        if isinstance(work, EtlChain):
            from checks import delta_live_files

            live = len(delta_live_files(os.path.join(out_dir, "history")))
        delta["delta_lite.rewritten_share"] = delta["delta_lite.files_removed"] / live if live else 0.0
        # the writers layer's output: targets, quarantine, the delta table
        # and the stream's sink (not its checkpoint, not query results)
        written, files = _written(
            {p: v for p, v in before.items() if _under_writer(out_dir, p)},
            {p: v for p, v in after.items() if _under_writer(out_dir, p)})
        traced_ops.append(i)
        layer_ops.append(_op_layers(tracer, {
            "op": i, "counts": tracer.collect(secs, cores), "results": box["res"], "delta": delta,
            "stream": _stream_stats([p for p in tracer.progress if p["op"] == i]),
            "written": {"writers.bytes_written": written, "writers.files_written": files}}))
    result = {"write_amp": median(amp), "rows_per_s": median(rps)}
    if tracer is not None:
        layers = {k: median([m[k] for m in layer_ops]) for k in layer_ops[0]} if layer_ops else {}
        layers.update(_catalyst(work, traced_ops))
        layers["trace.run_s"] = median(loop.warm_s)
        layers["trace.spans"] = len(tracer.spans)
        result["layers"] = layers
    return result


def _under_writer(out_dir: str, path: str) -> bool:
    return os.path.relpath(path, out_dir).split(os.sep)[0] in ("prices", "errors", "history", "sessions")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_chain", "query_mix"])
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    t0 = time.perf_counter()
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark import Orchestrator, get_session

    cores = len(os.sched_getaffinity(0))
    spark = get_session(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    t1 = time.perf_counter()
    orch = Orchestrator(spark)
    t2 = time.perf_counter()
    print("READY", flush=True)
    spark.sparkContext.setLogLevel("ERROR")

    from tracing import Tracer, jvm_peak_rss_mb

    tracer = None
    if a.trace:
        tracer = Tracer(spark, PACKAGE)
        tracer.install()  # before the first operation, streaming listener included
    kind = EtlChain if a.workload == "etl_chain" else QueryMix
    work = kind(spark, orch, a.work, tracer)
    loop = OpLoop(warmup=sizes.RAMP_OPS)
    result = measure(work, loop, sizes.OPS, cores, tracer)
    result.update({"first_s": loop.first_s, "ramp_s": loop.ramp_s, "warm_s": loop.warm_s,
                   "attempted": loop.attempted, "failed": loop.failed, "problems": loop.problems})
    if tracer is not None:
        with open(os.path.join(a.work, "spans.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "progress": tracer.progress}, fh, default=str)
        tracer.uninstall()
        result["layers"].update({
            "session.start_s": t1 - t0,
            "register.functions_s": t2 - t1,
            "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
        })
    result["failed_tasks"] = Tracer(spark, PACKAGE).all_failed_tasks()
    print("RESULT " + json.dumps(result), flush=True)
    # the parent stops this process group (the JVM included) once the
    # RESULT line is read; a graceful spark.stop() would only add time
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())

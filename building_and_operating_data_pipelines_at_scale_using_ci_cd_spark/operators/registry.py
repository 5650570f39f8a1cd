"""Config-dialect operator registry (§2.9 extensibility).

The reference's only transformation surface is a SQL string
(``spark.json:54-65``). SQL covers the relational core, but the
training-data operators (MinHash near-dup, clustering, splits, packing,
ANN) are multi-step DataFrame programs a SQL string can't express. This
registry makes them config-callable as a peer of ``sqlQuery``::

    {"operatorName": "minhashNearDups",
     "inputDFName": "documents",
     "operatorParams": {"id_col": "doc_id", "text_col": "text"},
     "outputDFName": "dups"}

Each entry is ``name -> fn(df, **params) -> DataFrame``; the engine
resolves ``inputDFName`` against the registered views, applies the
operator, and registers the output view exactly like a SQL step — so SQL
and operator steps chain freely in one job and Catalyst still owns the
whole plan (operators build lazy DataFrames; nothing executes until the
load phase).

BINDING: most entries are a :class:`_LibraryStep` — the module and name
of a library function whose parameters ARE the step's parameters. The
library signature is the one place a parameter type is declared; config
values are converted from it by one rule (:func:`_call`):

  - a parameter annotated ``int`` or ``float`` (with or without
    ``| None``) gets ``int(value)`` / ``float(value)``, so a templated
    ``"${bits}"`` (substitution always yields strings) and a literal
    ``32`` run the same;
  - a ``dict[str, int]`` / ``dict[str, float]`` parameter gets its values
    converted the same way;
  - ``None`` is never converted; ``bool``, ``str``, lists and other
    unions (``bool | str``) pass through untouched.

The step exposes the library signature (``__signature__``), so the CI dry
run (``plans/validate.py``) flags a misspelt or missing parameter.
Hand-written adapters remain only where a step does real work: building
Columns, resolving other views by name, parsing JSON/list strings, the
``delta*`` table DML family. They forward to the library through the
same :func:`_call`, so version/retention values convert by the library's
annotations there too.

CONSTRUCTION-JOB CONTRACT: a handful of steps run ONE small, bounded
Spark job while BUILDING their plan (not at load time), because the
right plan depends on a scalar fact about the data — ``domainCap``
(hash-prefix shortfall check), ``rankSumTest`` (cardinality guard, only
when ``max_values`` is set), ``minhashNearDups`` / ``ngramJaccardPairs``
(duplication-ratio probe, only when ``collapse_exact="auto"``), and
``generalizeToK`` (per-level suppression stats).  All of them route
through :mod:`.guards`, which bounds each job by a design parameter;
see that module's docstring for the full contract.
"""

from __future__ import annotations

import importlib
import inspect
import re
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUMBERS = {"int": int, "float": float}
_NUMBER_DICT = re.compile(r"dict\[str, *(int|float)\]")


def _convert(annotation: Any, value: Any) -> Any:
    """One config value converted by its parameter's annotation (the
    rule in the module docstring)."""
    if value is None or annotation is inspect.Parameter.empty:
        return value
    if not isinstance(annotation, str):
        annotation = inspect.formatannotation(annotation)
    members = {m.strip() for m in annotation.split("|")} - {"None"}
    if isinstance(value, dict):
        for m in members:
            hit = _NUMBER_DICT.fullmatch(m)
            if hit:
                kind = _NUMBERS[hit.group(1)]
                return {k: v if v is None else kind(v) for k, v in value.items()}
        return value
    scalars = {m for m in members if not m.startswith("dict[")}
    kind = _NUMBERS.get(scalars.pop()) if len(scalars) == 1 else None
    return value if kind is None else kind(value)


def _call(fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
    """Call ``fn`` with config values converted by its own signature."""
    sig = inspect.signature(fn)
    bound = sig.bind(*args, **kwargs)
    for name, value in bound.arguments.items():
        p = sig.parameters[name]
        if p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD):
            bound.arguments[name] = _convert(p.annotation, value)
    return fn(*bound.args, **bound.kwargs)


class _LibraryStep:
    """A registry entry bound straight to library function ``name`` in
    ``module`` (relative to this package). The target is looked up on
    every call: imports stay lazy, and a patched module attribute (a
    tracer's wrapper, a test's monkeypatch) is the one that runs."""

    def __init__(self, module: str, name: str) -> None:
        self.module, self.name = module, name

    def target(self) -> Callable[..., DataFrame]:
        return getattr(importlib.import_module(self.module, __package__), self.name)

    @property
    def __signature__(self) -> inspect.Signature:
        return inspect.signature(self.target())

    def __call__(self, df: DataFrame, *args: Any, **kwargs: Any) -> DataFrame:
        return _call(self.target(), df, *args, **kwargs)


def _dedup_survivors(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup that returns the surviving ROWS (not the group report):
    the corpus after dropping duplicate content."""
    from .dedup import exact_dedup_groups

    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col)


def _text_enrich(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard curation columns: predicted language, quality
    score, token count, fingerprint."""
    from ..functions.text import doc_fingerprint, lang_id, quality_score, token_count

    c = F.col(text_col)
    return (
        df.withColumn("predicted_lang", lang_id(c))
        .withColumn("quality", quality_score(c))
        .withColumn("n_tokens", token_count(c))
        .withColumn("fingerprint", doc_fingerprint(c))
    )


def _pii_redact(df: DataFrame, text_col: str = "text", output_col: str | None = None) -> DataFrame:
    """Scrub PII shapes in ``text_col``; in place unless ``output_col``."""
    from ..functions.text import redact_pii

    return df.withColumn(output_col or text_col, redact_pii(F.col(text_col)))


def _bloom_filtered_join(df: DataFrame, key: str, build_view: str, **kw) -> DataFrame:
    """Config shape: the step's input view is the PROBE side; the build
    side is another registered view named by ``build_view`` (phase_1
    inputs and phase_2 outputs are all temp views — the same
    by-name resolution config SQL uses)."""
    from .scale import bloom_filtered_join

    return _call(bloom_filtered_join, df, df.sparkSession.table(build_view), key, **kw)


def _bm25_score(df: DataFrame, id_col: str, text_col: str, query_terms, **kw) -> DataFrame:
    """Config shape: ``queryTerms`` as a comma-joined string or list;
    optional k1/b floats, roundDp int."""
    from ..functions.indexing import bm25_scores

    terms = (
        [t for t in query_terms.split(",") if t]
        if isinstance(query_terms, str)
        else list(query_terms)
    )
    return _call(bm25_scores, df, id_col, text_col, terms, **kw)


def _rrf_fuse(df: DataFrame, id_col: str, other_views, rank_col: str = "rank", **kw) -> DataFrame:
    """Config shape: the step's input view is the FIRST ranked list;
    ``otherViews`` names the rest (comma-joined or list) — the same
    by-name view resolution ``bloomFilteredJoin`` uses."""
    from ..functions.indexing import rrf_fuse

    views = (
        [v for v in other_views.split(",") if v]
        if isinstance(other_views, str)
        else list(other_views)
    )
    dfs = [df] + [df.sparkSession.table(v) for v in views]
    return _call(rrf_fuse, dfs, id_col, rank_col=rank_col, **kw)


def _funnel(df: DataFrame, user_col: str, ts_col: str, type_col: str,
            stages) -> DataFrame:
    """Config shape: ordered conversion funnel; ``stages`` is a
    comma-joined list or a list."""
    from .analytics import funnel

    steps = (
        [s for s in stages.split(",") if s] if isinstance(stages, str) else list(stages)
    )
    return funnel(df, user_col, ts_col, type_col, steps)


def _dsir_select(df: DataFrame, target_view: str, id_col: str,
                 text_col: str, k, **kw) -> DataFrame:
    """Config shape: DSIR importance selection. The step's input view
    is the RAW corpus; ``target_view`` names the target corpus (the
    rrfFuse view-resolution pattern)."""
    from .sampling import dsir_select

    return _call(
        dsir_select, df, df.sparkSession.table(target_view), id_col, text_col, k, **kw
    )


def _expectations(df: DataFrame, rules) -> DataFrame:
    """Config shape: rule-based data-quality expectations report;
    ``rules`` is a JSON list of Expectation kwargs (the linkRecords
    comparator-JSON pattern)."""
    import json as _json

    from .validation import Expectation, expectations_report

    spec = _json.loads(rules) if isinstance(rules, str) else rules
    return expectations_report(df, [Expectation(**r) for r in spec])


def _k_anonymity(df: DataFrame, quasi_cols, k, **kw) -> DataFrame:
    """Config shape: k-anonymity (+ optional l-diversity) privacy audit.
    ``quasi_cols`` is a comma-separated list or JSON array."""
    import json as _json

    from .validation import k_anonymity_report

    if isinstance(quasi_cols, str):
        quasi_cols = (
            _json.loads(quasi_cols)
            if quasi_cols.lstrip().startswith("[")
            else [c.strip() for c in quasi_cols.split(",") if c.strip()]
        )
    return _call(k_anonymity_report, df, list(quasi_cols), k, **kw)


def _redact_cards(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Config shape: Luhn-validated payment-card redaction of a text
    column (in place unless ``out_col`` names a new column)."""
    from ..functions.text import redact_cards

    target = out_col or text_col
    return df.withColumn(target, redact_cards(F.col(text_col)))


def _robots_filter(
    df: DataFrame, url_col: str, robots_map_json: str, **kw
) -> DataFrame:
    """Config shape: RFC 9309 robots politeness verdicts.
    ``robots_map_json`` is a JSON object mapping registrable domain →
    raw robots.txt text; optional ``user_agent`` selects the group
    (default ``*``)."""
    import json as _json

    from .web import parse_robots, robots_filter, robots_rules_df

    ua = kw.pop("user_agent", "*")
    robots_map = _json.loads(robots_map_json)
    rules = robots_rules_df(
        df.sparkSession,
        {dom: parse_robots(txt, ua) for dom, txt in robots_map.items()},
    )
    return robots_filter(df, url_col, rules, **kw)


def _robots_filter_from_bodies(
    df: DataFrame,
    url_col: str,
    rules_view: str,
    domain_col: str = "domain",
    body_col: str = "body",
    **kw,
) -> DataFrame:
    """Config shape: crawl-scale robots verdicts — the rule table is
    parsed DISTRIBUTIVELY from robots.txt bodies staged as a view
    (``rules_view`` with ``domain_col``/``body_col``), so the rule set
    is data, not driver config; the rule join auto-selects broadcast vs
    shuffle by size (``rules_hint='auto'``)."""
    from .web import robots_filter, robots_rules_from_df

    ua = kw.pop("user_agent", "*")
    bodies = df.sparkSession.table(rules_view)
    rules = robots_rules_from_df(bodies, domain_col, body_col, user_agent=ua)
    return robots_filter(df, url_col, rules, **kw)


def _delta_merge(df: DataFrame, table_path: str, on_keys, **kw) -> DataFrame:
    """Config shape: MERGE the input view (the source) into a delta-lite
    table by key — the config-dialect upsert for the lakehouse tier.
    ``on_keys`` is a comma-separated list or JSON array;
    ``when_matched_update_json`` maps column → SQL expr over the joined
    row (source columns visible as ``src_<name>``);
    ``when_matched_delete`` takes "true" or a SQL condition;
    ``when_not_matched_insert`` defaults true; ``mergeSchema`` "true"
    lets a source with NEW columns evolve the table additively
    (delta-spark's schema.autoMerge). Returns the POST-MERGE
    snapshot so downstream steps chain off the new table state. NB: the
    merge executes eagerly when this step runs (it is table DML, not a
    lazy transform)."""
    import json as _json

    from ..sources.delta_lite import merge_delta_lite, read_delta_lite

    keys = (
        [k.strip() for k in on_keys.split(",")]
        if isinstance(on_keys, str)
        else list(on_keys)
    )
    if "when_matched_update_json" in kw:
        kw["when_matched_update"] = _json.loads(
            kw.pop("when_matched_update_json")
        )
    if isinstance(kw.get("when_matched_delete"), str) and kw[
        "when_matched_delete"
    ].lower() in ("true", "false"):
        kw["when_matched_delete"] = kw["when_matched_delete"].lower() == "true"
    if isinstance(kw.get("when_not_matched_insert"), str):
        kw["when_not_matched_insert"] = (
            kw["when_not_matched_insert"].lower() == "true"
        )
    if "mergeSchema" in kw:  # config spelling → python kwarg
        kw["merge_schema"] = str(kw.pop("mergeSchema")).lower() == "true"
    if isinstance(kw.get("merge_schema"), str):
        kw["merge_schema"] = kw["merge_schema"].lower() == "true"
    merge_delta_lite(df.sparkSession, table_path, df, keys, **kw)
    return read_delta_lite(df.sparkSession, table_path)


def _delta_delete(df: DataFrame, table_path: str, condition: str) -> DataFrame:
    """Config shape: row-level DELETE WHERE on a delta-lite table (the
    input view is only the chaining anchor — deletion is table DML and
    executes eagerly, data-skipped by the per-file stats). Returns the
    post-delete snapshot."""
    from ..sources.delta_lite import delete_delta_lite, read_delta_lite

    delete_delta_lite(df.sparkSession, table_path, condition)
    return read_delta_lite(df.sparkSession, table_path)


def _delta_restore(
    df: DataFrame, table_path: str, version=None, timestamp=None
) -> DataFrame:
    """Config shape: ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF`` on
    a delta-lite table (the input view is only the chaining anchor —
    restore is table DML and executes eagerly; cost is log-size, no data
    moves, pre-restore versions stay time-travelable). ``version`` is a
    commit number; ``timestamp`` is epoch-ms int or ISO string. Returns
    the post-restore snapshot."""
    from ..sources.delta_lite import read_delta_lite, restore_delta_lite

    _call(restore_delta_lite, table_path, version=version, timestamp=timestamp)
    return read_delta_lite(df.sparkSession, table_path)


def _delta_convert(df: DataFrame, table_path: str) -> DataFrame:
    """Config shape: CONVERT TO DELTA — turn an existing parquet
    directory (flat or hive-partitioned) into a delta-lite table IN
    PLACE (no data moves; commit 0 references the files with footer
    stats, so data skipping works from the first read). Idempotent on
    an already-delta path. Returns the post-convert snapshot."""
    from ..sources.delta_lite import convert_to_delta, read_delta_lite

    convert_to_delta(df.sparkSession, table_path)
    return read_delta_lite(df.sparkSession, table_path)


def _delta_history(df: DataFrame, table_path: str) -> DataFrame:
    """Config shape: DESCRIBE HISTORY on a delta-lite table — one row
    per commit, newest first (version, timestamp epoch-ms, operation,
    operationParameters as a JSON string). Log-only: never touches
    data, so it is safe on any table size. The input view is only the
    chaining anchor; downstream steps can gate on the history (e.g.
    pick a ``timestampAsOf`` for a later read, audit operations)."""
    import json as _json

    from ..sources.delta_lite import history_delta_lite

    rows = [
        (
            int(h["version"]),
            int(h["timestamp"]),
            h["operation"],
            _json.dumps(h["operationParameters"], sort_keys=True, default=str),
        )
        for h in history_delta_lite(table_path)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "version bigint, timestamp bigint, operation string, "
        "operationParameters string",
    )


def _delta_constraint(
    df: DataFrame,
    table_path: str,
    name: str,
    expr: str | None = None,
    action: str = "add",
) -> DataFrame:
    """Config shape: ``ALTER TABLE ... ADD/DROP CONSTRAINT`` on a
    delta-lite table. ``action: add`` validates EXISTING rows first
    (one bounded job) and upgrades the writer protocol to 3; from then
    on every row-adding step (simpleInsert, deltaMerge, deltaDelete
    rewrites, scdType2Insert, replaceWhere) refuses rows violating
    ``expr``. ``action: drop`` removes the rule (log-only). The input
    view is only the chaining anchor; returns the table snapshot."""
    from ..sources.delta_lite import (
        add_check_constraint,
        drop_check_constraint,
        read_delta_lite,
    )

    if action == "add":
        if not expr:
            raise ValueError("deltaConstraint action=add requires expr")
        add_check_constraint(df.sparkSession, table_path, name, expr)
    elif action == "drop":
        drop_check_constraint(table_path, name)
    else:
        raise ValueError(f"deltaConstraint action must be add|drop, got {action!r}")
    return read_delta_lite(df.sparkSession, table_path)


def _delta_properties(
    df: DataFrame,
    table_path: str,
    properties_json: str | None = None,
    unset: str | None = None,
) -> DataFrame:
    """Config shape: ``ALTER TABLE ... SET/UNSET TBLPROPERTIES`` —
    ``properties_json`` is a JSON object of key → value;``unset`` a
    comma-separated key list. ``delta.appendOnly: true`` makes every
    later data-removing step refuse (the protocol's writer-v2 rule);
    constraints must go through deltaConstraint. Log-only commit."""
    import json as _json

    from ..sources.delta_lite import read_delta_lite, set_table_properties

    set_table_properties(
        table_path,
        properties=_json.loads(properties_json) if properties_json else None,
        unset=[k.strip() for k in unset.split(",")] if unset else None,
    )
    return read_delta_lite(df.sparkSession, table_path)


def _delta_clone(
    df: DataFrame,
    source_path: str,
    table_path: str,
    version=None,
    timestamp=None,
) -> DataFrame:
    """Config shape: ``CREATE TABLE ... SHALLOW CLONE`` — zero-copy
    fork of ``source_path`` (optionally at a version/timestamp) into
    ``table_path``: one log write referencing the source files in
    place, stats carried so data skipping works from the first read.
    Appends/DML on the clone land in the clone's own directory and
    never touch the source. Returns the clone's snapshot."""
    from ..sources.delta_lite import clone_delta_lite, read_delta_lite

    _call(clone_delta_lite, source_path, table_path, version=version, timestamp=timestamp)
    return read_delta_lite(df.sparkSession, table_path)


def _delta_optimize(
    df: DataFrame, table_path: str, target_files=1, zorder_by=None
) -> DataFrame:
    """Config shape: OPTIMIZE a delta-lite table (dataChange=false
    bin-packing compaction; ``zorder_by`` — comma-separated or JSON
    array — switches to Morton-key clustering so per-file stats prune
    on every clustered column). Maintenance DML, executes eagerly;
    returns the post-OPTIMIZE snapshot for chaining."""
    from ..sources.delta_lite import optimize_delta_lite, read_delta_lite

    cols = (
        [c.strip() for c in zorder_by.split(",")]
        if isinstance(zorder_by, str)
        else (list(zorder_by) if zorder_by else None)
    )
    _call(
        optimize_delta_lite, table_path, df.sparkSession,
        target_files=target_files, zorder_by=cols,
    )
    return read_delta_lite(df.sparkSession, table_path)


def _delta_changes(
    df: DataFrame,
    table_path: str,
    from_version=None,
    to_version=None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Config shape: CDC — row-level changes of a delta-lite table
    between two versions (or timestamps, resolved like timestampAsOf),
    tagged ``_change_type`` insert|delete. The input view is only the
    chaining anchor. Exactly one of from_version/from_timestamp is
    required; the 'to' bound defaults to the latest version."""
    from ..sources.delta_lite import _resolve_timestamp, delta_changes

    if (from_version is None) == (from_timestamp is None):
        raise ValueError("pass exactly one of from_version / from_timestamp")
    lo = (
        from_version
        if from_version is not None
        else _resolve_timestamp(table_path, from_timestamp)
    )
    hi = (
        _resolve_timestamp(table_path, to_timestamp)
        if to_version is None and to_timestamp is not None
        else to_version
    )
    return _call(delta_changes, df.sparkSession, table_path, lo, hi)


def _delta_vacuum(
    df: DataFrame, table_path: str, retain_versions=0, retention_hours=None
) -> DataFrame:
    """Config shape: VACUUM a delta-lite table — physically delete data
    files referenced only by snapshots older than the retained window
    (current + ``retain_versions`` prior + everything committed within
    ``retention_hours``, delta-spark's RETAIN n HOURS; the knobs
    compose). Maintenance DML, executes eagerly; returns the
    (unchanged) current snapshot for chaining."""
    from ..sources.delta_lite import read_delta_lite, vacuum_delta_lite

    _call(
        vacuum_delta_lite, table_path,
        retain_versions=retain_versions, retention_hours=retention_hours,
    )
    return read_delta_lite(df.sparkSession, table_path)


def _generalize_to_k(df: DataFrame, k, ladder_json: str, **kw) -> DataFrame:
    """Config shape: k-anonymity enforcement — generalize quasi columns
    along ``ladder_json`` (a JSON list of ``{col: sql_expr}`` levels,
    least → most general) and suppress residual below-k groups.  NB:
    runs a bounded construction-time job (see the module docstring's
    contract note)."""
    import json as _json

    from .validation import generalize_to_k

    return _call(generalize_to_k, df, k, _json.loads(ladder_json), **kw)


def _registrable_domain_psl(
    df: DataFrame, host_col: str, psl_path: str, **kw
) -> DataFrame:
    """Config shape: eTLD+1 under a FULL public-suffix-list file
    (wildcards/exceptions included) — the broadcast-join twin of the
    literal-excerpt path ``domainCap`` uses. ``psl_path`` points at a
    publicsuffix.org-format file on the driver."""
    from .web import load_psl, registrable_domain_psl

    return _call(registrable_domain_psl, df, host_col, load_psl(psl_path), **kw)


def _psi_report(df: DataFrame, ref_view: str, value_col: str, **kw) -> DataFrame:
    """Config shape: PSI drift of the input view's column against a
    reference view (the rrfFuse view-resolution pattern)."""
    from .validation import psi_report

    return _call(psi_report, df.sparkSession.table(ref_view), df, value_col, **kw)


def _schema_diff(df: DataFrame, right_view: str) -> DataFrame:
    """Config shape: metadata-only schema drift report between the
    input view and ``right_view``."""
    from .validation import schema_diff

    return schema_diff(df, df.sparkSession.table(right_view))


def _kmv_intersect(df: DataFrame, other_view: str, k) -> DataFrame:
    """Config shape: set-overlap / join-size estimate from two full
    KMV sketches. The step's input view is sketch A; ``other_view``
    names sketch B (the rrfFuse view-resolution pattern)."""
    from ..functions.sketches import kmv_intersect

    return _call(kmv_intersect, df, df.sparkSession.table(other_view), k)


def _link_records(df: DataFrame, right_view: str, block_keys: str,
                  comparators: str, threshold, left_id: str,
                  right_id: str) -> DataFrame:
    """Config shape: blocked Fellegi–Sunter linkage. The step's input
    view is the LEFT side; ``right_view`` names the right (the rrfFuse
    view-resolution pattern). ``block_keys`` is 'lcol:rcol,...';
    ``comparators`` is a JSON list of FieldComparator kwargs.  Callers
    needing expression block keys (e.g. name suffixes) stage them with
    a sqlQuery step first — idiomatic for the dialect."""
    import json as _json

    from pyspark.sql import functions as _F

    from .linkage import FieldComparator, link_records

    right = df.sparkSession.table(right_view)
    blocks = [
        (_F.col("l." + a), _F.col("r." + b))
        for a, b in (p.split(":") for p in block_keys.split(",") if p)
    ]
    comps = [FieldComparator(**c) for c in _json.loads(comparators)]
    return _call(link_records, df, right, blocks, comps, threshold, left_id, right_id)


def _bfs_levels(df: DataFrame, sources_view: str, src: str = "src",
                dst: str = "dst", node_col: str = "node",
                max_hops="4", directed="false") -> DataFrame:
    """Config shape: multi-source BFS hop distances. The step's input
    view is the edge list; ``sources_view`` names the source-node view
    (the rrfFuse view-resolution pattern)."""
    from ..functions.graph import bfs_levels

    return _call(
        bfs_levels, df, df.sparkSession.table(sources_view), src, dst, node_col,
        max_hops=max_hops,
        directed=str(directed).lower() in ("true", "1", "yes"),
    )


def _decontaminate(
    df: DataFrame, id_col: str, text_col: str, eval_predicate: str, **kw
) -> DataFrame:
    """Config shape for decontamination: ONE input view split by a SQL
    predicate — rows matching ``eval_predicate`` are the held-out eval
    set, the rest the corpus to scrub."""
    from .corpus import contaminated_docs

    return _call(
        contaminated_docs,
        df.filter(f"NOT ({eval_predicate})"),
        df.filter(eval_predicate),
        id_col,
        text_col,
        **kw,
    )


def _nfc_normalize(df: DataFrame, text_col: str = "text", output_col: str | None = None) -> DataFrame:
    from ..functions.register import py_nfc_normalize

    return df.withColumn(output_col or text_col, py_nfc_normalize(F.col(text_col)))


def _filter_with_reasons(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the C4/Gopher filter ledger: ``filter_reasons`` (comma-joined
    string so downstream sinks stay complex-type-free) + ``keep``."""
    from ..functions.text import filter_reasons

    reasons = filter_reasons(F.col(text_col))
    return df.withColumn("keep", F.size(reasons) == 0).withColumn(
        "filter_reasons", F.concat_ws(",", reasons)
    )


def _query_split(df: DataFrame, query_predicate: str | None):
    """Shared convention for the similarity ops: one input view, queries
    selected by a SQL predicate (None/absent = self-search, every row is
    a query). Mirrors the ``_decontaminate`` split-by-predicate shape."""
    return (df.filter(query_predicate), df) if query_predicate else (df, df)


def _topk_neighbors(df: DataFrame, id_col: str, vec_col: str,
                    query_predicate: str | None = None, **kw) -> DataFrame:
    from ..functions.similarity import topk_neighbors

    q, c = _query_split(df, query_predicate)
    return _call(topk_neighbors, q, c, id_col, vec_col, **kw)


def _ann_lsh_topk(df: DataFrame, id_col: str, vec_col: str, dim: int,
                  query_predicate: str | None = None, **kw) -> DataFrame:
    from ..functions.similarity import ann_topk_lsh

    q, c = _query_split(df, query_predicate)
    return _call(ann_topk_lsh, q, c, id_col, vec_col, dim=dim, **kw)


def _ivf_topk(df: DataFrame, id_col: str, vec_col: str,
              query_predicate: str | None = None, **kw) -> DataFrame:
    from ..functions.similarity import ivf_topk

    q, c = _query_split(df, query_predicate)
    return _call(ivf_topk, q, c, id_col, vec_col, **kw)


def _bloom_incremental(df: DataFrame, key_col: str, new_predicate: str, **kw) -> DataFrame:
    """Config shape for incremental dedup: one input view split by a SQL
    predicate — rows matching ``new_predicate`` are the new crawl, the
    rest the historical corpus (the ``_decontaminate`` convention)."""
    from .dedup import bloom_incremental_new

    return _call(
        bloom_incremental_new,
        df.filter(new_predicate), df.filter(f"NOT ({new_predicate})"), key_col, **kw,
    )


def _bpe_tokenize(df: DataFrame, id_col: str, text_col: str, n_merges=24) -> DataFrame:
    """Composite train+apply: learn the merge table from the input view,
    tokenize the same view with it (tokens serialized space-joined so the
    output stays sink-friendly)."""
    from ..functions.bpe import bpe_apply, bpe_train

    merges = _call(bpe_train, df, text_col, n_merges=n_merges)
    out = bpe_apply(df, id_col, text_col, merges)
    return out.select(id_col, "n_tokens", F.array_join("tokens", " ").alias("tokens"))


def _classifier_score(df: DataFrame, text_col: str, weights: list, output_col: str = "keep_prob") -> DataFrame:
    """Learned quality filter (apply path): sigmoid over surface features
    with fixed literal weights — pure projection."""
    from ..functions.classifier import logreg_score_terms, text_feature_terms
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    prob = logreg_score_terms(text_feature_terms(F.col(text_col)), [float(w) for w in weights])
    return df.withColumn(output_col, prob)


def _profile_columns(df: DataFrame, columns=None, **kw) -> DataFrame:
    from .validation import profile_columns

    if "approx_distinct" in kw:
        kw["approx_distinct"] = str(kw["approx_distinct"]).lower() == "true"
    return _call(profile_columns, df, list(columns) if columns else None, **kw)


def _quantize_embeddings(df: DataFrame, id_col: str, vec_col: str, bits=8) -> DataFrame:
    """Config step: id + per-vector scale + comma-joined int codes (the
    sink-friendly flattening of quantize_vector's struct)."""
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    from ..functions.similarity import quantize_vector

    qt = _call(quantize_vector, F.col(vec_col), bits=bits)
    return df.select(
        id_col,
        qt["scale"].alias("scale"),
        F.array_join(qt["q"].cast("array<string>"), ",").alias("codes"),
    )


def _kmeans(df: DataFrame, id_col: str, vec_col: str, k=8, iters=3) -> DataFrame:
    from ..functions.clustering import kmeans_fit_predict

    adaptive = k is None or str(k).lower() in ("", "none", "auto")
    return _call(
        kmeans_fit_predict, df, id_col, vec_col, k=None if adaptive else k, iters=iters
    )


def _pq_topk(df: DataFrame, id_col: str, vec_col: str, **kw) -> DataFrame:
    from ..functions.similarity import pq_topk

    # config steps have ONE input view: self-search (corpus queries itself)
    return _call(pq_topk, df, df, id_col, vec_col, **kw)


def _knn_pagerank(df: DataFrame, id_col: str, vec_col: str, **kw) -> DataFrame:
    from ..functions.graph import knn_pagerank

    if "weighted" in kw:
        kw["weighted"] = str(kw["weighted"]).lower() == "true"
    return _call(knn_pagerank, df, id_col, vec_col, **kw)


def _ivfpq_topk(df: DataFrame, id_col: str, vec_col: str, **kw) -> DataFrame:
    from ..functions.similarity import ivfpq_topk

    return _call(ivfpq_topk, df, df, id_col, vec_col, **kw)


OPERATORS: dict[str, Callable[..., DataFrame]] = {
    "exactDedupGroups": _LibraryStep(".dedup", "exact_dedup_groups"),
    "exactDedupSurvivors": _dedup_survivors,
    "minhashNearDups": _LibraryStep(".dedup", "near_dup_pairs"),
    "nearDupClusters": _LibraryStep(".dedup", "near_dup_clusters"),
    "simhashFingerprints": _LibraryStep(".dedup", "simhash_fingerprints"),
    "winnowNearDups": _LibraryStep(".dedup", "winnow_near_dup_pairs"),
    "embeddingNearDups": _LibraryStep(".dedup", "embedding_near_dup_pairs"),
    "textEnrich": _text_enrich,
    "hashSplit": _LibraryStep(".sampling", "hash_split"),
    "stratifiedSample": _LibraryStep(".sampling", "stratified_sample"),
    "packSequential": _LibraryStep(".sampling", "pack_sequential"),
    "shuffleShards": _LibraryStep(".sampling", "shuffle_shards"),
    "piiRedact": _pii_redact,
    "frequentNgrams": _LibraryStep(".corpus", "frequent_ngrams"),
    "chunkDocuments": _LibraryStep(".corpus", "chunk_documents"),
    "decontaminate": _decontaminate,
    "repetitionProfile": _LibraryStep(".corpus", "repetition_profile"),
    "removeDuplicateSpans": _LibraryStep(".corpus", "remove_duplicate_spans"),
    "nfcNormalize": _nfc_normalize,
    "filterWithReasons": _filter_with_reasons,
    "semanticDedup": _LibraryStep(".dedup", "semantic_dedup_keep"),
    "topkNeighbors": _topk_neighbors,
    "fuzzySelfJoin": _LibraryStep(".fuzzy", "fuzzy_self_join"),
    "annLshTopk": _ann_lsh_topk,
    "ivfTopk": _ivf_topk,
    "bloomIncrementalDedup": _bloom_incremental,
    "domainMixSample": _LibraryStep(".sampling", "domain_mix_sample"),
    "lmCrossEntropy": _LibraryStep("..functions.text", "unigram_cross_entropy"),
    "bigramLm": _LibraryStep("..functions.text", "bigram_cross_entropy"),
    "bpeTokenize": _bpe_tokenize,
    "classifierScore": _classifier_score,
    "tfidfTopTerms": _LibraryStep("..functions.indexing", "tfidf_top_terms"),
    "invertedIndex": _LibraryStep("..functions.indexing", "inverted_index"),
    "weightedSample": _LibraryStep(".sampling", "weighted_priority_sample"),
    "ngramJaccardPairs": _LibraryStep(".dedup", "ngram_jaccard_pairs"),
    "kmeansClusters": _kmeans,
    "qualityQuantileCut": _LibraryStep(".corpus", "quality_quantile_cut"),
    "profileColumns": _profile_columns,
    "quantizeEmbeddings": _quantize_embeddings,
    "pqTopk": _pq_topk,
    "ivfpqTopk": _ivfpq_topk,
    "resampleFfill": _LibraryStep(".timeseries", "resample_ffill"),
    "resampleInterpolate": _LibraryStep(".timeseries", "resample_interpolate"),
    "knnPagerank": _knn_pagerank,
    "cmsFrequency": _LibraryStep("..functions.sketches", "cms_frequency"),
    "heavyHitters": _LibraryStep("..functions.sketches", "heavy_hitters"),
    "bloomFilteredJoin": _bloom_filtered_join,
    "zorderLayout": _LibraryStep(".scale", "zorder_layout"),
    "sessionAggregate": _LibraryStep("..streaming.ops", "session_aggregate"),
    "tumblingCounts": _LibraryStep("..streaming.ops", "tumbling_counts"),
    "streamingDedup": _LibraryStep("..streaming.ops", "streaming_dedup"),
    "sessionCloseEvents": _LibraryStep("..streaming.ops", "session_close_events"),
    "termCooccurrence": _LibraryStep(".corpus", "term_cooccurrence"),
    "randomProjection": _LibraryStep("..functions.similarity", "random_projection"),
    "bm25Score": _bm25_score,
    "rrfFuse": _rrf_fuse,
    "kmvSketch": _LibraryStep("..functions.sketches", "kmv_sketch"),
    "urlDedup": _LibraryStep(".web", "url_dedup"),
    "domainCap": _LibraryStep(".web", "domain_cap"),
    "registrableDomainPsl": _registrable_domain_psl,
    "robotsFilter": _robots_filter,
    "robotsFilterFromBodies": _robots_filter_from_bodies,
    "kAnonymity": _k_anonymity,
    "generalizeToK": _generalize_to_k,
    "deltaMerge": _delta_merge,
    "deltaDelete": _delta_delete,
    "deltaRestore": _delta_restore,
    "deltaHistory": _delta_history,
    "deltaConvert": _delta_convert,
    "deltaOptimize": _delta_optimize,
    "deltaConstraint": _delta_constraint,
    "deltaProperties": _delta_properties,
    "deltaClone": _delta_clone,
    "deltaVacuum": _delta_vacuum,
    "deltaChanges": _delta_changes,
    "redactCards": _redact_cards,
    "exifReport": _LibraryStep("..functions.exif", "exif_features"),
    "stripExif": _LibraryStep("..functions.exif", "strip_exif_payloads"),
    "funnel": _funnel,
    "retention": _LibraryStep(".analytics", "retention"),
    "transitionMatrix": _LibraryStep(".analytics", "transition_matrix"),
    "kmvIntersect": _kmv_intersect,
    "dsirSelect": _dsir_select,
    "bfsLevels": _bfs_levels,
    "expectations": _expectations,
    "linearFit": _LibraryStep(".analytics", "linear_fit"),
    "abTest": _LibraryStep(".analytics", "ab_test"),
    "psiReport": _psi_report,
    "schemaDiff": _schema_diff,
    "rankSumTest": _LibraryStep(".analytics", "rank_sum_test"),
    "linkRecords": _link_records,
    "ohlcTumbling": _LibraryStep("..streaming.ops", "ohlc_tumbling"),
    "triangleCount": _LibraryStep("..functions.graph", "triangle_count"),
    "geoProximityPairs": _LibraryStep(".geo", "proximity_pairs"),
    "barReturns": _LibraryStep(".timeseries", "bar_returns"),
    "skewReport": _LibraryStep(".scale", "skew_report"),
    "logbucketSketch": _LibraryStep("..functions.sketches", "logbucket_sketch"),
    "ohlcBars": _LibraryStep(".timeseries", "ohlc_bars"),
    "phashFingerprints": _LibraryStep("..functions.phash", "phash_fingerprints"),
    "phashNearPairs": _LibraryStep("..functions.phash", "phash_near_pairs"),
    "decodeImage": _LibraryStep("..functions.multimodal", "decode_image"),
    "audioFeatures": _LibraryStep("..functions.audio", "audio_features"),
    "sampleVideoFrames": _LibraryStep("..functions.avi", "sample_video_frames"),
}


def apply_operator(name: str, df: DataFrame, params: dict) -> DataFrame:
    if name not in OPERATORS:
        raise KeyError(
            f"unknown operatorName '{name}'; available: {sorted(OPERATORS)}"
        )
    return OPERATORS[name](df, **params)

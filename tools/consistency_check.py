"""Registry ↔ docs ↔ bench consistency guard (no Spark session needed).

Docs drift is a recurring verdict/advice item (stale counts in README,
bench names not in the registry, registry steps undocumented). This
check is cheap enough to run every session:

  - every bench HEADLINE name resolves in ``queries()`` (or is a
    bench-local extra);
  - ``set(queries()) == set(oracle_sql())`` — zero no-oracle entries;
  - the checked 50: ``CHECKED_HEAD`` holds 50 unique registry names and
    ``queries()`` starts with exactly them;
  - README's "N queries/operators" claim equals the real count;
  - every config-registry operator name appears in COVERAGE.md or
    README.md (operators exist to be discoverable);
  - every config-registry step resolves to a callable whose first
    parameter is the input DataFrame;
  - delta-lite data files are staged only by the three writers that own
    a transaction, and every commit — the ``_commit`` call and the
    ``commitInfo`` it carries — goes through ``_transact``
    (``PRIMITIVE_CALLERS``) — read from the package source's AST.

Exit code 1 on any failure; prints each finding.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "building_and_operating_data_pipelines_at_scale_using_ci_cd_spark")

#: delta-lite primitive → the only functions of ``sources/delta_lite.py``
#: that may call it (or, for ``commitInfo``, write it as a dict-literal
#: key). ``optimize_delta_lite`` is the one dataChange=false writer;
#: every data-removing DML goes through ``_pruned_rewrite``; every
#: commit goes through ``_transact``.
PRIMITIVE_CALLERS = {
    "_stage_and_adds": {"write_delta_lite", "_pruned_rewrite", "optimize_delta_lite"},
    "_commit": {"_transact"},
    "commitInfo": {"_transact"},
}


def primitive_call_findings(package: str = PACKAGE) -> list[str]:
    """Uses of a ``PRIMITIVE_CALLERS`` primitive from anywhere else in the
    package (another delta_lite function, another module, module level)."""
    findings = []
    for root, _dirs, files in os.walk(package):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, package)
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            for top in tree.body:
                owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if isinstance(node, ast.Call):
                        f = node.func
                        used = [f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)]
                    elif isinstance(node, ast.Dict):
                        used = [k.value for k in node.keys if isinstance(k, ast.Constant)]
                    else:
                        continue
                    for name in used:
                        allowed = PRIMITIVE_CALLERS.get(name)
                        if allowed is None:
                            continue
                        if rel != os.path.join("sources", "delta_lite.py") or owner not in allowed:
                            findings.append(
                                f"{rel}:{node.lineno} {owner} uses {name}; only "
                                f"{sorted(allowed)} may (commit through _transact, "
                                f"DML through _pruned_rewrite)"
                            )
    return findings


def main() -> int:
    import bench
    import __spark_entry__ as entry
    from pyspark.sql import DataFrame

    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.operators.registry import (
        OPERATORS,
    )

    failures: list[str] = []
    q = entry.queries()
    o = entry.oracle_sql()

    # 1. oracle completeness
    missing = set(q) - set(o)
    extra = set(o) - set(q)
    if missing:
        failures.append(f"queries without oracle: {sorted(missing)}")
    if extra:
        failures.append(f"oracles without query: {sorted(extra)}")

    # 2. bench headline resolves
    bench_extras = {"scd2_incremental"}  # bench-local shapes, documented in bench.py
    for name in bench.HEADLINE:
        if name not in q and name not in bench_extras:
            failures.append(f"bench HEADLINE name not in queries(): {name}")

    # 3. README count claim
    readme = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"(\d+) queries/operators, ALL (\d+) hash-checked", readme)
    if not m:
        failures.append("README count claim not found")
    elif int(m.group(1)) != len(q) or int(m.group(2)) != len(o):
        failures.append(
            f"README claims {m.group(1)}/{m.group(2)}, registry has {len(q)}/{len(o)}"
        )

    # 4. registry operators discoverable in docs
    docs = readme + open(os.path.join(REPO, "COVERAGE.md")).read()
    undocumented = [name for name in OPERATORS if name not in docs]
    if undocumented:
        failures.append(f"registry steps not mentioned in README/COVERAGE: {undocumented}")

    # 5. the checked head: the strict correctness check covers the first
    #    50 entries, and CHECKED_HEAD names them — 50 unique registry
    #    names, in the order queries() yields them
    head = entry.CHECKED_HEAD
    if len(head) != 50 or len(set(head)) != 50:
        failures.append(f"CHECKED_HEAD has {len(head)} names, {len(set(head))} unique; need 50")
    unknown = sorted(set(head) - set(q))
    if unknown:
        failures.append(f"CHECKED_HEAD names not in queries(): {unknown}")
    if list(q)[:50] != head:
        failures.append("queries() does not start with CHECKED_HEAD")

    # 6. plan-audit allowlist hygiene (the round-6 failure mode: an entry
    #    shipped in the final commit without an allowlist decision or a
    #    baseline row). Every BNLJ_ALLOWED name must be a real entry, and
    #    PLAN_BASELINE.json must cover the full registry so the audit's
    #    diff-vs-baseline has a row for every query.
    from tools.plan_audit import BNLJ_ALLOWED

    ghost = sorted(set(BNLJ_ALLOWED) - set(q))
    if ghost:
        failures.append(f"BNLJ_ALLOWED names not in queries(): {ghost}")
    baseline_path = os.path.join(REPO, "PLAN_BASELINE.json")
    if os.path.exists(baseline_path):
        import json

        baseline = json.load(open(baseline_path)).get("queries", {})
        stale = sorted(set(q) - set(baseline))
        if stale:
            failures.append(f"entries missing from PLAN_BASELINE.json: {stale}")
    else:
        failures.append("PLAN_BASELINE.json missing")

    # 7. every config-registry step resolves (a library-bound step looks
    #    its target up lazily, so a typo'd module or function name would
    #    otherwise surface only at first use) to a callable whose first
    #    parameter is the input frame
    for name, op in OPERATORS.items():
        try:
            fn = op.target() if hasattr(op, "target") else op
            first = next(iter(inspect.signature(fn).parameters.values()), None)
        except Exception as exc:  # noqa: BLE001 — report, don't crash
            failures.append(f"registry step {name} does not resolve: {type(exc).__name__}: {exc}")
            continue
        if (
            first is None
            or first.kind not in (first.POSITIONAL_ONLY, first.POSITIONAL_OR_KEYWORD)
            or first.annotation not in ("DataFrame", DataFrame)
        ):
            failures.append(f"registry step {name}: first parameter is not the input DataFrame ({first})")

    # 8. one commit path in delta-lite, one transaction path for its DML
    failures += primitive_call_findings()

    for f in failures:
        print(f"FAIL {f}")
    print(f"{len(failures)} consistency failures over {len(q)} entries / {len(OPERATORS)} registry steps")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

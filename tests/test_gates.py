"""Repo-health gates as FAILING tests, not advisory tools.

Round-6 lesson: ``weighted_pagerank`` shipped in the final commit
without a plan-audit allowlist decision, so ``tools/plan_audit.py``
exited 1 at HEAD while the round notes claimed "0 flags" — the audit
was a tool someone had to remember to run. These tests make both
guards part of ``pytest tests/``:

- ``tools/consistency_check.py`` — registry/docs/bench/allowlist/
  baseline coherence (cheap, no Spark session).
- ``tools/plan_audit.py`` — every entry query's physical plan scanned
  for CartesianProduct / undocumented BNLJ / row-at-a-time Python
  UDFs. Heavy (builds all 128 plans, executes the streaming proofs),
  so it runs once as its own subprocess with a generous timeout.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str], timeout: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
        check=False,
    )


def test_consistency_check_green_at_head():
    proc = _run(["tools/consistency_check.py"], timeout=120)
    assert proc.returncode == 0, (
        "consistency_check failed:\n" + proc.stdout + proc.stderr[-2000:]
    )


def test_plan_audit_green_at_head():
    proc = _run(
        ["tools/plan_audit.py", "/root/testdata/sf0.001"], timeout=900
    )
    tail = "\n".join(proc.stdout.splitlines()[-6:])
    assert proc.returncode == 0, (
        "plan_audit flagged queries (add a documented allowlist entry or "
        "fix the plan):\n" + tail + "\n" + proc.stderr[-2000:]
    )


def test_perfbench_wrapped_names_resolve():
    """Every ``(module, attr)`` the benchmark tracer wraps
    (``perfbench/tracing.py:WRAPPED``) is bound in that package module's
    own namespace, so a refactor that drops a binding fails here instead
    of crashing traced benchmark runs."""
    import ast
    import importlib

    with open(os.path.join(REPO, "perfbench", "tracing.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    wrapped = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "WRAPPED" for t in node.targets)
    )
    assert wrapped
    missing = []
    for mod_name, attr, _layer in wrapped:
        owner = importlib.import_module(
            f"building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.{mod_name}"
        )
        for part in attr.split("."):
            owner = vars(owner).get(part)
            if owner is None:
                missing.append(f"{mod_name}.{attr}")
                break
    assert not missing, missing

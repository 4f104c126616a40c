"""Tests for the scripts under ``tools/``: the measurement tool's id
normalisation, arm patches and records, and a guard that every package
name a tool imports still exists."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"
PKG = "go_dfs_mapreduce_spark"


@pytest.fixture(scope="module")
def measure():
    spec = importlib.util.spec_from_file_location("measure", TOOLS / "measure.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalise_rewrites_volatile_ids(measure):
    plan = (
        "(3) HashAggregate [codegen id : 7]\n"
        "Keys [1]: [l_returnflag#12]\n"
        "Exchange hashpartitioning(l_returnflag#12, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert measure.normalise(plan) == (
        "(3) HashAggregate [codegen id : <n>]\n"
        "Keys [1]: [l_returnflag#<n>]\n"
        "Exchange hashpartitioning(l_returnflag#<n>, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=<n>]\n"
    )


def test_arm_patches_resolve_both_forms_and_restore_on_raise(measure, tmp_path):
    import os

    from go_dfs_mapreduce_spark import tables

    repl = tmp_path / "arm_repl.py"
    repl.write_text("def table(*args, **kwargs):\n    return 'patched'\n")
    name, patches = measure.parse_arm(
        f"trt:{PKG}.tables.table={repl}:table,{PKG}.tables.local_bytes=os.path.getsize"
    )
    assert name == "trt"
    real_table, real_bytes = tables.table, tables.local_bytes
    with pytest.raises(RuntimeError), measure.patched(patches):
        assert tables.table() == "patched"
        assert tables.local_bytes is os.path.getsize
        raise RuntimeError("arm failed")
    assert tables.table is real_table
    assert tables.local_bytes is real_bytes
    assert measure.parse_arm("ctrl") == ("ctrl", [])
    with pytest.raises(AttributeError):
        measure.parse_arm(f"bad:{PKG}.tables.no_such_attr=os.path.getsize")


def test_profile_record_and_identity_ab(measure, spark, sf_dir, tmp_path):
    import __spark_entry__ as entry

    from go_dfs_mapreduce_spark.operators import relational

    qs = entry.queries()
    rec = measure.profile_one(spark, qs, "q1_pricing_summary", sf_dir, reps=1)
    assert set(rec) == {
        "query", "reps", "rows", "error", "builder_ms", "builder_jobs",
        "py4j_calls", "plan_ms", "exec_ms", "exec_jobs", "exec_stages",
        "exec_tasks",
    }
    assert rec["error"] is None and rec["reps"] == 1 and rec["rows"] > 0
    assert rec["py4j_calls"] > 0 and rec["exec_jobs"] >= 1
    assert rec["exec_tasks"] >= rec["exec_stages"] >= 1

    wrapper = tmp_path / "arm_identity.py"
    wrapper.write_text(
        "from go_dfs_mapreduce_spark.operators import relational\n"
        "real = relational.table\n"
        "calls = []\n"
        "def table(*args, **kwargs):\n"
        "    calls.append(args[-1])\n"
        "    return real(*args, **kwargs)\n"
    )
    real_table = relational.table
    arms = [
        measure.parse_arm("ctrl"),
        measure.parse_arm(f"same:{PKG}.operators.relational.table={wrapper}:table"),
    ]
    recs = measure.ab_one(spark, qs, "q1_pricing_summary", arms, sf_dir, reps=2)
    assert [(r["arm"], r["reps"], r["equal"], r["error"]) for r in recs] == [
        ("ctrl", 2, True, None),
        ("same", 2, True, None),
    ]
    assert recs[0]["wins"] is None and recs[1]["wins"].endswith("/2")
    assert recs[1]["q1_s"] <= recs[1]["median_s"] <= recs[1]["q3_s"]
    calls = arms[1][1][0][2].__globals__["calls"]
    assert calls == ["lineitem", "lineitem"]
    assert relational.table is real_table


def test_ab_arm_patch_runs_under_plan_memo(measure, spark, sf_dir, tmp_path):
    """A patch on code that runs inside a memoized build
    (``derived._read_back``'s ``plan_memo``) must run in every rep of its
    arm, not be answered from plans an earlier arm built."""
    import __spark_entry__ as entry

    wrapper = tmp_path / "arm_spread.py"
    wrapper.write_text(
        "from go_dfs_mapreduce_spark import derived\n"
        "real = derived._spread_partitions\n"
        "calls = []\n"
        "def spread(spark, dst):\n"
        "    calls.append(dst)\n"
        "    return real(spark, dst)\n"
    )
    arms = [
        measure.parse_arm("ctrl"),
        measure.parse_arm(f"spread:{PKG}.derived._spread_partitions={wrapper}:spread"),
    ]
    recs = measure.ab_one(spark, entry.queries(), "ann_lsh_topk", arms, sf_dir, reps=2)
    assert [(r["arm"], r["reps"], r["equal"], r["error"]) for r in recs] == [
        ("ctrl", 2, True, None),
        ("spread", 2, True, None),
    ]
    calls = arms[1][1][0][2].__globals__["calls"]
    assert len(calls) == 2 and calls[0] == calls[1], calls
    assert "embedding_lsh_sigs-" in calls[0]


def _lookup(module: str, name: str | None):
    """``module.name``: an attribute of ``module``, else its submodule."""
    mod = importlib.import_module(module)
    if name is None:
        return mod
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def test_tools_import_only_existing_package_names():
    """Every package name a ``tools/*.py`` script imports, and every
    attribute it reads off such an import, exists. Deleting package code
    must fail here rather than in a tool nobody ran."""
    missing = []
    for path in sorted(TOOLS.glob("*.py")):
        tree = ast.parse(path.read_text())
        bound = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and (n.module or "").split(".")[0] == PKG:
                refs = [(a.asname or a.name, n.module, a.name) for a in n.names]
            elif isinstance(n, ast.Import):
                refs = [
                    (a.asname or a.name, a.name, None)
                    for a in n.names
                    if a.name.split(".")[0] == PKG
                ]
            else:
                continue
            for alias, module, name in refs:
                try:
                    bound[alias] = _lookup(module, name)
                except ImportError:
                    missing.append(f"{path.name}:{n.lineno}: {module}.{name or ''}")
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id in bound
                and not hasattr(bound[n.value.id], n.attr)
            ):
                missing.append(f"{path.name}:{n.lineno}: {n.value.id}.{n.attr}")
    assert not missing, missing

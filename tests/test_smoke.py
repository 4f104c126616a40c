from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_callable_and_most_have_oracles(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "registry is empty"
    for name in oracles:
        assert name in qs, f"oracle {name} without query"


def test_queries_run_at_smoke_sf(spark, sf_dir):
    qs = entry_mod.queries()
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, f"{name} returned no columns"
        df.limit(5).collect()  # executes the plan


def test_every_operator_builder_is_registered_or_called():
    """Reachability guard, no Spark session: every public top-level
    function in ``operators/*.py`` whose first parameters are
    ``(spark, sf_dir)`` is either registered in ``registry.QUERIES`` or
    referenced by name from other package code. A builder that is
    neither has no oracle, no caller and no gate run."""
    import ast
    from pathlib import Path

    from go_dfs_mapreduce_spark import registry

    pkg = Path(registry.__file__).parent
    queries, _ = registry.collect()
    registered = {(fn.__module__, fn.__name__) for fn in queries.values()}
    trees = {p: ast.parse(p.read_text()) for p in pkg.rglob("*.py")}

    def refs_outside(tree, skip):
        # names and attributes used in the module outside ``skip``
        out = set()
        for top in tree.body:
            if top is not skip:
                for n in ast.walk(top):
                    if isinstance(n, ast.Name):
                        out.add(n.id)
                    elif isinstance(n, ast.Attribute):
                        out.add(n.attr)
        return out

    orphans = []
    for path in sorted((pkg / "operators").glob("*.py")):
        mod = f"go_dfs_mapreduce_spark.operators.{path.stem}"
        for fn in trees[path].body:
            if (
                not isinstance(fn, ast.FunctionDef)
                or fn.name.startswith("_")
                or [a.arg for a in fn.args.args[:2]] != ["spark", "sf_dir"]
                or (mod, fn.name) in registered
            ):
                continue
            if not any(
                fn.name in refs_outside(t, fn if p == path else None)
                for p, t in trees.items()
            ):
                orphans.append(f"{path.stem}.{fn.name}")
    assert not orphans, f"unregistered, uncalled builders: {orphans}"


def test_package_reads_only_deployment_env_vars():
    """Knob-creep guard, no Spark session: the package reads exactly the
    deployment settings from the environment. A tuning value that
    nothing sets is a constant with its measurement cited where it is
    used, not an env var."""
    import ast
    from pathlib import Path

    from go_dfs_mapreduce_spark import registry

    pkg = Path(registry.__file__).parent

    def is_environ(n):
        return (isinstance(n, ast.Name) and n.id == "environ") or (
            isinstance(n, ast.Attribute) and n.attr == "environ"
        )

    names = set()
    for path in pkg.rglob("*.py"):
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
                n.func.attr == "getenv"
                or (n.func.attr == "get" and is_environ(n.func.value))
            ):
                key = n.args[0] if n.args else None
            elif isinstance(n, ast.Subscript) and is_environ(n.value):
                key = n.slice
            else:
                continue
            names.add(
                key.value
                if isinstance(key, ast.Constant)
                else f"<non-literal name at {path.name}:{n.lineno}>"
            )
    assert names == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_WAREHOUSE",
        "SPARK_GRAFT_DERIVED_DIR",
        "SPARK_GRAFT_FP_MODE",
    }

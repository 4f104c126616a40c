"""The session factory's worker daemon and its zipimport patch."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from conftest import REPO_ROOT


def _write_zip(path: str, modules: dict[str, str]) -> None:
    """Write ``modules`` into a fresh file swapped in for ``path``."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch is not installed")
def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    import importlib

    from go_dfs_mapreduce_spark import pydaemon

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    reads = []

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return pydaemon._read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import m1

        assert m1.X == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import m2

        assert m2.Y == 2
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pydaemon._read_stamps.pop(archive, None)


def test_workers_import_daemon_from_any_cwd(tmp_path):
    """With no PYTHONPATH and a cwd outside the repo, the workers still
    find the daemon module (without it every Python task fails)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from pyspark.sql import functions as F
        from go_dfs_mapreduce_spark.session import get_spark

        spark = get_spark("daemon-cwd", cpus=1)
        spark.sparkContext.setLogLevel("ERROR")
        plus_one = F.udf(lambda x: x + 1, "long")
        print(spark.range(3, numPartitions=1).select(plus_one("id")).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "[Row(<lambda>(id)=1), Row(<lambda>(id)=2), Row(<lambda>(id)=3)]" in out.stdout

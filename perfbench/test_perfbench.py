"""Checks of the benchmark itself (not part of the repository's test suite).

    python -m pytest perfbench/test_perfbench.py -q

The two end-to-end checks start Spark and take about two minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import expect  # noqa: E402
from workloads import table_dir  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _tree_state(path: str) -> list[tuple]:
    return sorted(
        (os.path.join(d, f), os.path.getsize(os.path.join(d, f)),
         os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(path)
        for f in files
    )


def _git_status() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


def test_corpus_is_seeded_and_spreads_first_letters():
    a = corpus.text_corpus(7, 50_000)
    assert a == corpus.text_corpus(7, 50_000)
    assert a != corpus.text_corpus(8, 50_000)
    firsts = {w[0] for w in a.decode().lower().split() if w[0].isalnum()}
    assert set("abcdefghijklmnopqrstuvwxyz0123456789") <= firsts
    log = corpus.access_log(7, 50_000).decode().splitlines()
    assert log == corpus.access_log(7, 50_000).decode().splitlines()
    full = [line.split() for line in log if len(line.split()) >= 4]
    assert len(full) > 0.95 * len(log)
    assert {t[2] for t in full} <= set(corpus._CRAWLERS)


def test_reference_partition_and_pair_sort():
    assert expect.reference_partition("Apple", 26) == ord("a") % 26
    assert expect.reference_partition("", 26) == 0
    assert expect.reference_partition("émigré", 26) == 239 % 26

    def f_map(file, n, line, out):
        for w in line.split():
            out += [w, f"{file}:{n}"]

    def f_reduce(keys, values, out):
        out.extend(f"{k} {v}" for k, v in zip(keys, values))

    files = expect.mr_expected([("f", 0, "b a"), ("f", 1, "a")], f_map, f_reduce, 1)
    assert files == {"r0": b"a f:0\na f:1\nb f:0\n"}


def test_run_is_isolated_and_reports_every_metric():
    bench = _benchmark()
    git_before = _git_status()
    data = os.path.dirname(table_dir("sf0.1"))
    data_before = _tree_state(data)
    for trace, section in (("1", "per_layer"), ("0", "end_to_end")):
        p = _run(
            ROOT, "--workload", bench["workloads"][-1]["name"], "--seed", "3",
            "--seconds", "1", "--trace", trace,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in bench[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
    assert _git_status() == git_before
    assert _tree_state(data) == data_before
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in _benchmark()["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d)
    p = _run(str(tmp_path), "--workload", "olap", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))

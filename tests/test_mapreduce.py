"""MR-parity layer tests (SURVEY.md §5 items 2-4).

The load-bearing test is the differential simulation: MapReduceJob's
distributed result must equal a pure-Python single-process simulation of
the reference's partition/sort/reduce semantics on the same input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_dfs_mapreduce_spark.mapreduce import MapReduceJob
from go_dfs_mapreduce_spark.mapreduce.job import INPUT_SCHEMA, _normalize_pairs
from go_dfs_mapreduce_spark.mapreduce import plugins


def _go_parity_pid(k: str, r: int) -> int:
    """sn/mr_actions.go:226-229 byte-exact: first UTF-8 BYTE of the key,
    ASCII-lowercased; a non-ASCII lead byte is an invalid one-byte UTF-8
    slice, which Go's strings.ToLower replaces with U+FFFD — first byte
    0xEF = 239."""
    if not k:
        return 0
    b = k.encode("utf-8")[0]
    if 65 <= b <= 90:
        b += 32
    elif b > 127:
        b = 239
    return b % r


def simulate(rows, f_map, f_reduce, r):
    """Single-process reference simulation of F3-F9."""
    parts: dict[int, list[tuple[str, str]]] = {i: [] for i in range(r)}
    for file, line_no, line in rows:
        out: list = []
        f_map(file, line_no, line, out)
        for k, v in _normalize_pairs(out):
            parts[_go_parity_pid(k, r)].append((k, v))
    result = []
    for pid, pairs in parts.items():
        if not pairs:
            continue
        pairs = sorted(pairs, key=lambda kv: (kv[0].encode(), kv[1].encode()))
        out: list = []
        f_reduce([k for k, _ in pairs], [v for _, v in pairs], out)
        result.extend((pid, i, line) for i, line in enumerate(out))
    return sorted(result)


LINES = [
    ("f1", 0, "The quick brown fox--jumps! over the lazy dog"),
    ("f1", 1, "the THE ### 42 zebra Zebra   zebra"),
    ("f2", 0, ""),
    ("f2", 1, "!!! ??? ..."),
    ("f2", 2, "Spark spark SPARK counts counts"),
]


def test_read_text_with_line_numbers_single_pass_no_rdd(spark, tmp_path):
    """F1 over plain local files: per-file 0-based numbering, bufio
    semantics (no-trailing-newline last line kept), and the plan is a
    DataSource scan — no 'Scan ExistingRDD' / zipWithIndex double pass."""
    from go_dfs_mapreduce_spark.mapreduce import read_text_with_line_numbers

    f1 = tmp_path / "a.txt"
    f1.write_text("alpha\nbeta\n")
    f2 = tmp_path / "b.txt"
    f2.write_text("gamma\ndelta")  # no trailing newline
    df = read_text_with_line_numbers(spark, [str(f1), str(f2)])
    got = sorted((r.file, r.line_number, r.line) for r in df.collect())
    assert got == [
        (str(f1), 0, "alpha"),
        (str(f1), 1, "beta"),
        (str(f2), 0, "gamma"),
        (str(f2), 1, "delta"),
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert df.rdd.getNumPartitions() == 2  # one task per file


def test_read_text_handles_commas_and_globs(spark, tmp_path):
    """Review regression: a comma in a file name must survive (paths ride
    an exact JSON list, not a comma-joined string), and globs expand."""
    from go_dfs_mapreduce_spark.mapreduce import read_text_with_line_numbers

    weird = tmp_path / "a,b.txt"
    weird.write_text("one\ntwo\n")
    (tmp_path / "g1.txt").write_text("g1\n")
    (tmp_path / "g2.txt").write_text("g2\n")
    got = sorted(
        (r.file, r.line_number, r.line)
        for r in read_text_with_line_numbers(
            spark, [str(weird), str(tmp_path / "g*.txt")]
        ).collect()
    )
    assert got == [
        (str(weird), 0, "one"),
        (str(weird), 1, "two"),
        (str(tmp_path / "g1.txt"), 0, "g1"),
        (str(tmp_path / "g2.txt"), 0, "g2"),
    ]


def test_parity_partitioner_non_ascii_keys_differential(spark):
    """Engine r_id == the Go-exact simulation for keys with non-ASCII
    lead bytes (all of which the reference routes through U+FFFD ->
    byte 239): identity plugin emitting the token itself as key."""
    def ident_map(file, line_no, line, out):
        for t in line.split():
            out.append(t)
            out.append("1")

    def count_reduce(keys, values, out):
        tally: dict[str, int] = {}
        for k, v in zip(keys, values):
            tally[k] = tally.get(k, 0) + int(v)
        for k in sorted(tally, key=lambda s: s.encode()):
            out.append(f"{k}={tally[k]}")

    rows = [("f", 0, "Ångström ärgern Zebra ÿ zebra Ångström")]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    job = MapReduceJob("t_nonascii", ident_map, count_reduce, r=26)
    got = sorted(tuple(r) for r in job.run(df).collect())
    want = simulate(rows, ident_map, count_reduce, 26)
    assert got == want
    # every non-ASCII-lead key shares the reference's 239 % 26 = 5 slot
    assert {r for r, _, line in got if not line[0].isascii()} == {239 % 26}


def test_word_count_differential(spark):
    df = spark.createDataFrame(LINES, INPUT_SCHEMA)
    job = MapReduceJob("t_wc", plugins.word_count_map, plugins.word_count_reduce, r=26)
    got = sorted(tuple(r) for r in job.run(df).collect())
    want = simulate(LINES, plugins.word_count_map, plugins.word_count_reduce, 26)
    assert got == want


def test_log_analyzer_differential(spark):
    log_lines = [
        ("lg", 0, "2024-01-01 00:00:01 botA http://www.example.com/a/b?q=1"),
        ("lg", 1, "2024-01-01 00:00:02 botB https://sub.blog.site.org/p#frag"),
        ("lg", 2, "2024-01-01 00:00:03 botA 10.0.0.1:8080/x/y"),
        ("lg", 3, "2024-01-01 00:00:04 botC example.com"),
        ("lg", 4, "short line"),
        ("lg", 5, "2024-01-01 00:00:05 botA http://example.com/a/b"),
    ]
    df = spark.createDataFrame(log_lines, INPUT_SCHEMA)
    job = MapReduceJob(
        "t_la", plugins.log_analyzer_map, plugins.log_analyzer_reduce, r=10
    )
    got = sorted(tuple(r) for r in job.run(df).collect())
    want = simulate(
        log_lines, plugins.log_analyzer_map, plugins.log_analyzer_reduce, 10
    )
    assert got == want


def test_odd_length_flat_output_repaired():
    # sn/mr_actions.go:218-224: unpaired tail key gets "\n" as its value
    # (empty after newline stripping) ...
    assert _normalize_pairs(["k1", "v1", "k2"]) == [("k1", "v1"), ("k2", "")]
    # ... and a "\n" tail drops the last two elements (leaving an odd
    # remainder, where Go would panic; we drop the unpairable tail instead)
    assert _normalize_pairs(["k1", "v1", "\n"]) == []
    assert _normalize_pairs(["k1", "v1", "k2", "v2", "\n"]) == [("k1", "v1")]
    assert _normalize_pairs([]) == []
    assert _normalize_pairs([("a", "b")]) == [("a", "b")]
    assert _normalize_pairs(["a\n", "1\n"]) == [("a", "1")]


def test_parity_partitioner_matches_reference_rule(spark):
    # sn/mr_actions.go:226-229: int(lower(key[0])) % R
    rows = [("f", 0, "Apple banana 1digit Zoo")]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)

    def ident_map(file, ln, line, out):
        for t in line.split():
            out.extend([t, "1"])

    def ident_reduce(keys, values, out):
        out.extend(sorted(set(keys)))

    job = MapReduceJob("t_part", ident_map, ident_reduce, r=7)
    got = {r.line: r.r_id for r in job.run(df).collect()}
    assert got == {
        "Apple": ord("a") % 7,
        "banana": ord("b") % 7,
        "1digit": ord("1") % 7,
        "Zoo": ord("z") % 7,
    }


def test_partition_wide_reduce_not_per_key(spark):
    """F8: f_reduce must see the WHOLE partition (sn/mr_actions.go:487-508),
    not per-key groups — with R=1 every key lands in one call."""
    rows = [("f", 0, "a a b c")]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    calls: list[int] = []

    def m(file, ln, line, out):
        for t in line.split():
            out.extend([t, "1"])

    def red(keys, values, out):
        out.append("ncalls_keys=%d" % len(keys))

    job = MapReduceJob("t_pw", m, red, r=1)
    result = [r.line for r in job.run(df).collect()]
    assert result == ["ncalls_keys=4"]  # one call, all 4 pairs


def test_arrow_reduce_runs_r_reducer_partitions(spark):
    """The Arrow reduce runs exactly R reducer partitions, as the
    reference schedules R reducers: one ``hashpartitioning(r_id, R)``
    exchange (an explicit partition count, which AQE never coalesces)
    that ``groupBy(r_id)`` reuses, and a row RDD of R partitions."""
    import re

    r = 5
    result = MapReduceJob(
        "t_r_way", plugins.word_count_map, plugins.word_count_reduce, r=r, lower=False
    ).run(spark.createDataFrame(LINES, INPUT_SCHEMA))
    plan = result._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(r_id#\d+, (\d+)\)", plan)
    assert exchanges == [str(r)], plan
    assert result.rdd.getNumPartitions() == r


def test_duplicate_running_job_rejected(spark):
    job = MapReduceJob("t_dup", lambda *a: None, lambda *a: None, r=1)
    MapReduceJob._running["t_dup"] = job
    try:
        with pytest.raises(RuntimeError, match="already running"):
            job.run(spark.createDataFrame([("f", 0, "x")], INPUT_SCHEMA))
    finally:
        MapReduceJob._running.pop("t_dup", None)


def test_mr_wordcount_matches_idiomatic_pipeline(spark, sf_dir):
    """Internal differential: parity-layer counts == idiomatic DataFrame
    pipeline counts (modulo the ''-token artifact the idiomatic layer
    filters out)."""
    from go_dfs_mapreduce_spark.operators.mr_parity import mr_wordcount
    from go_dfs_mapreduce_spark.operators.wordcount import wordcount

    parity = {}
    for r in mr_wordcount(spark, sf_dir).collect():
        word, cnt = r.line.split("::")
        parity[word.strip()] = int(cnt)
    parity.pop("", None)
    idiomatic = {r.word: r.cnt for r in wordcount(spark, sf_dir).collect()}
    assert parity == idiomatic


def test_lowered_reduce_matches_arrow_path(spark, sf_dir):
    """The PerKeyIntSumFormat lowering (native groupBy.agg) must produce
    exactly the Arrow partition-wide reduce's rows on real data."""
    from go_dfs_mapreduce_spark.operators.mr_parity import _documents_as_lines

    lines = _documents_as_lines(spark, sf_dir)
    fast = MapReduceJob(
        "wc_lowered", plugins.word_count_map, plugins.word_count_reduce,
        r=plugins.WORD_COUNT_R,
    ).run(lines)
    slow = MapReduceJob(
        "wc_arrow", plugins.word_count_map, plugins.word_count_reduce,
        r=plugins.WORD_COUNT_R, lower=False,
    ).run(lines)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    # and the lowered plan really is native: no Python grouped-map stage
    from go_dfs_mapreduce_spark.plans.audit import formatted_plan

    assert "FlatMapGroupsInPandas" not in formatted_plan(fast)
    assert "FlatMapGroupsInPandas" in formatted_plan(slow)


def test_lowered_map_and_reduce_fully_native(spark, sf_dir):
    """With FlatMapExpr + ReduceExpr/PerKeyIntSumFormat lowerings declared,
    both example jobs must run with NO Python stage anywhere in the plan
    (the map phase was the last Arrow stage), and the lowered rows must
    equal the pinned Arrow path's rows on real data."""
    from go_dfs_mapreduce_spark.operators.mr_parity import (
        _documents_as_lines,
        crawler_log_lines,
    )
    from go_dfs_mapreduce_spark.plans.audit import formatted_plan

    for tag, mk_lines, f_map, f_reduce, r in (
        (
            "wc",
            _documents_as_lines,
            plugins.word_count_map,
            plugins.word_count_reduce,
            plugins.WORD_COUNT_R,
        ),
        (
            "la",
            crawler_log_lines,
            plugins.log_analyzer_map,
            plugins.log_analyzer_reduce,
            plugins.LOG_ANALYZER_R,
        ),
    ):
        lines = mk_lines(spark, sf_dir)
        fast = MapReduceJob(f"{tag}_native", f_map, f_reduce, r=r).run(lines)
        slow = MapReduceJob(
            f"{tag}_pinned", f_map, f_reduce, r=r, lower=False
        ).run(lines)
        plan = formatted_plan(fast)
        for py_stage in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"):
            assert py_stage not in plan, f"{tag}: {py_stage} in lowered plan"
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        )

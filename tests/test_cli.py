"""CLI round-trip: the reference client's verb set end-to-end
(client/client.go:96-107), driven through cli.main with a temp warehouse."""

from __future__ import annotations

import json
import re
from collections import Counter

import pytest

from go_dfs_mapreduce_spark import cli


@pytest.fixture()
def wh_root(tmp_path):
    return str(tmp_path / "wh")


def _run(capsys, *argv) -> tuple[int, str]:
    rc = cli.main(list(argv))
    return rc, capsys.readouterr().out


def test_cli_store_ls_mr_retrieve_delete(spark, tmp_path, wh_root, capsys):
    src = tmp_path / "corpus.txt"
    src.write_text("Hello, world!\nhello WORLD\nspark spark spark\n")

    rc, out = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0 and out.strip() == "corpus.txt"

    rc, out = _run(capsys, "--warehouse", wh_root, "ls", "-v")
    assert rc == 0
    (entry,) = [json.loads(line) for line in out.splitlines()]
    assert entry["name"] == "corpus.txt" and entry["type"] == "TXT"
    assert entry["n_parts"] >= 1

    out_dir = tmp_path / "results"
    rc, out = _run(
        capsys, "--warehouse", wh_root, "mr", "word_count", "-o", str(out_dir)
    )
    assert rc == 0
    # reducer files hold '%-12s :: %4d' lines; verify global counts against
    # a naive Python count (reference-semantics: lowercase, strip non-alnum)
    counts: Counter[str] = Counter()
    for f in out_dir.iterdir():
        for line in f.read_text().splitlines():
            word, _, n = line.rpartition(" :: ")
            counts[word.strip()] += int(n)
    assert counts["hello"] == 2 and counts["world"] == 2 and counts["spark"] == 3

    back = tmp_path / "back.txt"
    rc, out = _run(capsys, "--warehouse", wh_root, "retrieve", "corpus.txt", str(back))
    assert rc == 0
    assert back.read_text() == src.read_text()

    rc, out = _run(capsys, "--warehouse", wh_root, "delete", "corpus.txt")
    assert rc == 0
    rc, out = _run(capsys, "--warehouse", wh_root, "ls")
    assert rc == 0 and out.strip() == ""


def test_cli_query_and_diagnostics(spark, wh_root, capsys, sf_dir):
    rc, out = _run(
        capsys, "--warehouse", wh_root, "query", "q1_pricing_summary",
        "--sf-dir", sf_dir,
    )
    assert rc == 0 and "l_returnflag" in out

    rc, _ = _run(capsys, "--warehouse", wh_root, "query", "no_such_query")
    assert rc == 2

    rc, out = _run(capsys, "--warehouse", wh_root, "activity")
    assert rc == 0
    assert json.loads(out)["stored_files"] == 0


def test_cli_sql_adhoc(spark, wh_root, capsys, sf_dir):
    rc = cli.main([
        "--warehouse", wh_root, "sql",
        "SELECT r_name, COUNT(*) AS n FROM region JOIN nation"
        " ON r_regionkey = n_regionkey GROUP BY r_name ORDER BY r_name",
        "--sf-dir", sf_dir,
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "r_name" in out and "AFRICA" in out


def test_cli_mr_user_plugin(spark, tmp_path, wh_root, capsys):
    """F12 parity: a user-supplied plugin file is loaded, its exports
    validated, and run through the MR engine (the reference compiles any
    submitted Go source, cn/mr_actions.go:87-199)."""
    src = tmp_path / "data.txt"
    src.write_text("a b\nb c\nc d\n")
    rc, _ = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0

    plugin = tmp_path / "char_count.py"
    plugin.write_text(
        "R = 4\n"
        "def f_map(file, line_no, line, out):\n"
        "    for ch in line.replace(' ', ''):\n"
        "        out.append(ch)\n"
        "        out.append('1')\n"
        "def f_reduce(keys, values, out):\n"
        "    tally = {}\n"
        "    for k, v in zip(keys, values):\n"
        "        tally[k] = tally.get(k, 0) + int(v)\n"
        "    for k in sorted(tally):\n"
        "        out.append(f'{k}={tally[k]}')\n"
    )
    out_dir = tmp_path / "out"
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "mr", str(plugin), "-o", str(out_dir)
    )
    assert rc == 0
    lines = sorted(
        line for f in out_dir.iterdir() for line in f.read_text().splitlines()
    )
    assert lines == ["a=1", "b=2", "c=2", "d=1"]

    # symbol validation: a plugin missing f_reduce is rejected like the
    # reference's symbol-lookup failure
    bad = tmp_path / "bad.py"
    bad.write_text("R = 2\ndef f_map(file, line_no, line, out):\n    pass\n")
    rc, _ = _run(capsys, "--warehouse", wh_root, "mr", str(bad), "-o", str(out_dir))
    assert rc == 2


def test_cli_dfs_import_export_roundtrip(spark, tmp_path, wh_root, capsys):
    """dfs-export writes the reference chunk layout; dfs-import reads it
    back; retrieve reassembles the original bytes."""
    src = tmp_path / "book.txt"
    text = "".join(f"line {i} of the book\n" for i in range(50))
    src.write_text(text)
    rc, out = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0

    node = str(tmp_path / "node0")
    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-export", "book.txt", node,
        "--chunks", "3",
    )
    assert rc == 0
    import os as _os

    chunks = sorted(
        n for n in _os.listdir(node)
        if re.fullmatch(r".*_t\d+", n)
    )
    assert chunks == [f"book.txt_t{i}" for i in range(3)]

    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-import", node, "book.txt",
        "book_back.txt",
    )
    assert rc == 0 and out.strip() == "book_back.txt"

    dst = tmp_path / "back.txt"
    rc, out = _run(
        capsys, "--warehouse", wh_root, "retrieve", "book_back.txt", str(dst)
    )
    assert rc == 0
    assert dst.read_text() == text


def test_cli_dfs_bin_roundtrip(spark, tmp_path, wh_root, capsys):
    """BIN files migrate both directions: store a binary file chunked,
    export it to the reference layout, import it back, retrieve the
    original bytes."""
    src = tmp_path / "img.bin"
    payload = bytes(range(256)) * 512  # 128 KiB, clearly non-text
    src.write_bytes(payload)
    rc, out = _run(
        capsys, "--warehouse", wh_root, "store", str(src), "--chunk-mib", "1"
    )
    assert rc == 0

    node = str(tmp_path / "node0")
    rc, out = _run(capsys, "--warehouse", wh_root, "dfs-export", "img.bin", node)
    assert rc == 0
    import os as _os

    assert any(re.fullmatch(r".*_b\d+", n) for n in _os.listdir(node))

    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-import", node, "img.bin",
        "img_back.bin",
    )
    assert rc == 0

    dst = tmp_path / "back.bin"
    rc, out = _run(
        capsys, "--warehouse", wh_root, "retrieve", "img_back.bin", str(dst)
    )
    assert rc == 0
    assert dst.read_bytes() == payload


def test_cli_dfs_roundtrip_preserves_missing_trailing_newline(
    spark, tmp_path, wh_root, capsys
):
    """A stored file WITHOUT a trailing newline must survive
    dfs-export -> dfs-import -> retrieve byte-identically (the export
    truncates the last chunk's added newline; the import detects the
    non-terminated last chunk)."""
    src = tmp_path / "nonl.txt"
    text = "alpha\nbeta\ngamma"  # no trailing newline
    src.write_text(text)
    rc, _ = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0
    node = str(tmp_path / "node0")
    rc, _ = _run(capsys, "--warehouse", wh_root, "dfs-export", "nonl.txt", node)
    assert rc == 0
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "dfs-import", node, "nonl.txt",
        "nonl_back.txt",
    )
    assert rc == 0
    dst = tmp_path / "back.txt"
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "retrieve", "nonl_back.txt", str(dst)
    )
    assert rc == 0
    assert dst.read_text() == text


def test_cli_dfs_import_empty_txt_file(spark, tmp_path, wh_root, capsys):
    """An existing TXT file whose chunks hold zero lines is still a TXT
    file: dfs-import must land an empty table, not error."""
    import hashlib as _h
    import os as _os

    node = str(tmp_path / "node0")
    _os.makedirs(node)
    with open(_os.path.join(node, "empty.txt_t0"), "wb") as fh:
        fh.write(b"")
    with open(_os.path.join(node, "empty.txt_t0h"), "wb") as fh:
        fh.write(_h.md5(b"").digest())
    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-import", node, "empty.txt"
    )
    assert rc == 0 and out.strip() == "empty.txt"
    dst = tmp_path / "empty_back.txt"
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "retrieve", "empty.txt", str(dst)
    )
    assert rc == 0
    assert dst.read_text() == ""


def test_cli_mr_over_dfs_nodes(spark, tmp_path, wh_root, capsys):
    """mr --dfs-nodes runs a plugin straight over reference chunk dirs —
    the reference's own input path with no ingestion step."""
    import hashlib as _h
    import os as _os

    node = str(tmp_path / "node0")
    _os.makedirs(node)
    data = b"spark spark go\ngo spark\n"
    with open(_os.path.join(node, "c.txt_t0"), "wb") as fh:
        fh.write(data)
    with open(_os.path.join(node, "c.txt_t0h"), "wb") as fh:
        fh.write(_h.md5(data).digest())

    out_dir = str(tmp_path / "out")
    rc, out = _run(
        capsys, "--warehouse", wh_root, "mr", "word_count",
        "-o", out_dir, "--dfs-nodes", node,
    )
    assert rc == 0
    text = "".join(
        open(_os.path.join(out_dir, f)).read() for f in sorted(_os.listdir(out_dir))
    )
    counts = dict(
        (line.split("::")[0].strip(), int(line.split("::")[1]))
        for line in text.strip().split("\n")
    )
    assert counts == {"spark": 3, "go": 2}

    # a typo'd file name is a diagnostic (exit 2), not an empty result
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "mr", "word_count", "nope.txt",
        "-o", str(tmp_path / "out2"), "--dfs-nodes", node,
    )
    assert rc == 2


def test_cli_mr_inverted_index_example(spark, tmp_path, wh_root, capsys):
    """The shipped inverted-index plugin runs through the user-plugin
    path (`mr examples/inverted_index.py`) and produces correct
    postings."""
    import os as _os

    src = tmp_path / "docs.txt"
    # 12 lines so postings cross line 10 — numeric order must hold
    # ('docs.txt:2' before 'docs.txt:11', not lexicographic)
    body = ["apple banana", "banana cherry", "apple"] + ["filler"] * 8 + [
        "apple cherry"
    ]
    src.write_text("\n".join(body) + "\n")
    rc, _ = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0
    out_dir = str(tmp_path / "out")
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "mr", "examples/inverted_index.py",
        "-o", out_dir,
    )
    assert rc == 0
    text = "".join(
        open(_os.path.join(out_dir, f)).read()
        for f in sorted(_os.listdir(out_dir))
    )
    lines = dict(
        l.split(" -> ") for l in text.strip().split("\n") if l
    )
    assert lines["apple"] == "docs.txt:0 docs.txt:2 docs.txt:11"
    assert lines["banana"] == "docs.txt:0 docs.txt:1"
    assert lines["cherry"] == "docs.txt:1 docs.txt:11"


def test_cli_query_explain(spark, wh_root, capsys, sf_dir):
    rc = cli.main([
        "--warehouse", wh_root, "query", "wordcount",
        "--sf-dir", sf_dir, "--explain",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "== Physical Plan ==" in out
    assert "Scan parquet" in out


def test_cli_dfs_drain_incremental(spark, tmp_path, wh_root, capsys):
    """dfs-drain: first run drains the landing dir into chunks; new
    landing files arrive; second run appends ONLY the new lines as new
    chunks (checkpointed), and the chunk reader sees one coherent file."""
    import os as _os

    landing = tmp_path / "landing"
    node = tmp_path / "node"
    landing.mkdir()
    node.mkdir()
    (landing / "a.txt").write_text("alpha\nbeta\n")

    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-drain", str(landing), str(node),
        "--file", "feed.txt",
    )
    assert rc == 0
    rep1 = json.loads(out.strip().splitlines()[-1])
    assert rep1["file"] == "feed.txt" and rep1["chunks"] >= 1

    (landing / "b.txt").write_text("gamma\n")
    rc, out = _run(
        capsys, "--warehouse", wh_root, "dfs-drain", str(landing), str(node),
        "--file", "feed.txt",
    )
    assert rc == 0
    rep2 = json.loads(out.strip().splitlines()[-1])
    assert rep2["chunks"] > rep1["chunks"]

    from go_dfs_mapreduce_spark.sources import register_dfs_sources

    register_dfs_sources(spark)
    rows = spark.read.format("go_dfs_text").load(str(node)).collect()
    assert sorted(r.line for r in rows) == ["alpha", "beta", "gamma"]
    # indices are contiguous — a tailing consumer never sees a gap
    idxs = {r.chunk_idx for r in rows}
    assert idxs == set(range(1 + max(idxs)))
    assert _os.path.isdir(str(node / ".drain_ckpt_feed.txt"))


def test_cli_mr_dist_grep_example(spark, tmp_path, wh_root, capsys):
    """The shipped distributed-grep plugin runs through the user-plugin
    path; mappers emit nothing for non-matching lines and hits come out
    grouped by matched key in (file, line) order."""
    import os as _os

    src = tmp_path / "app.log"
    body = [
        "boot ok",
        "disk ERROR on sda",
        "all good",
        "request FAILed fast",
        "panic: out of memory",
        "still fine",
        "another error here",
    ]
    src.write_text("\n".join(body) + "\n")
    rc, _ = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0
    out_dir = str(tmp_path / "out")
    rc, _ = _run(
        capsys, "--warehouse", wh_root, "mr", "examples/dist_grep.py",
        "-o", out_dir,
    )
    assert rc == 0
    text = "".join(
        open(_os.path.join(out_dir, f)).read()
        for f in sorted(_os.listdir(out_dir))
    )
    lines = [l for l in text.strip().split("\n") if l]
    assert "== error ==" in lines
    assert "app.log:1: disk ERROR on sda" in lines
    assert "app.log:6: another error here" in lines
    assert "== fail ==" in lines
    assert "app.log:3: request FAILed fast" in lines
    assert "== panic ==" in lines
    assert "app.log:4: panic: out of memory" in lines
    # non-matching lines emitted nothing
    assert not any("boot ok" in l or "all good" in l for l in lines)


def test_cli_analyze_reports_statistics(spark, wh_root, capsys, sf_dir):
    """The analyze verb registers the sf tables as catalog externals,
    runs ANALYZE over them, and reports catalog statistics (bytes +
    rows) per table — the nightly CBO-stats job surface."""
    db = "cli_analyze_t"
    try:
        rc, out = _run(
            capsys, "--warehouse", wh_root, "analyze",
            "--sf-dir", sf_dir, "--db", db,
        )
        assert rc == 0
        rows = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
        assert len(rows) == 7
        li = next(r for r in rows if r["table"] == f"{db}.lineitem")
        assert "rows" in li["statistics"] and "bytes" in li["statistics"]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_mr_streams_reducer_files_mid_job(spark, tmp_path):
    """Streamed MID-JOB result pull (cl/mr_actions.go:138-219 parity,
    VERDICT r12 #7 / r13 #3): each reducer's file must be complete and
    closed on disk while later reducers are still running. Proven the
    hard way: the reducer hashed into the LAST of the R reducer
    partitions REFUSES to produce anything until the first-drained
    reducer's pulled file exists on disk. If the pull materialized the
    whole job before writing (the old orderBy + toLocalIterator shape,
    or any collect), or if the reducers shared one partition, this
    deadlocks and the gate's timeout fails the test; with genuine
    partition-at-a-time pulls the sentinel appears in time and every
    reducer completes. The session conf is left as it is: the R-way
    reduce exchange alone keeps the reducers apart."""
    import os
    import time

    from pyspark.sql import functions as F

    from go_dfs_mapreduce_spark.mapreduce import MapReduceJob
    from go_dfs_mapreduce_spark.mapreduce.results import (
        stream_reducer_results,
    )

    r = 3
    # pmod(hash(r_id), R) is exactly HashPartitioning's routing for the
    # R-way reduce exchange: drain order across reducers is partition order
    part = {
        i: spark.range(1)
        .select(F.expr(f"pmod(hash({i}), {r})").cast("int"))
        .first()[0]
        for i in range(r)
    }
    assert part == {0: 0, 1: 1, 2: 0}
    free_r = min(part, key=lambda i: (part[i], i))
    blocked_r = max(part, key=lambda i: (part[i], i))
    assert part[free_r] != part[blocked_r]
    # parity partitioner routing for R=3: first char ord % 3
    key_of = {1: "a", 2: "b", 0: "c"}
    blocked_key = key_of[blocked_r]
    sentinel = str(tmp_path / "first_pull_done")
    out_dir = tmp_path / "out"

    def f_map(file, line_no, line, out):
        for w in line.split():
            out.append(w)
            out.append("1")

    def f_reduce(keys, values, out):
        if keys and keys[0] == blocked_key:
            deadline = time.time() + 120
            while not os.path.exists(sentinel):
                if time.time() > deadline:
                    raise RuntimeError(
                        "gate never opened: result pull is not mid-job"
                    )
                time.sleep(0.05)
        tally = {}
        for k in keys:
            tally[k] = tally.get(k, 0) + 1
        for k in sorted(tally):
            out.append(f"{k}:{tally[k]}")

    inputs = spark.createDataFrame(
        [("t.txt", i, "a b c") for i in range(1, 5)],
        "file string, line_number long, line string",
    )
    completion_order = []

    def on_complete(r_id, path):
        assert os.path.exists(path)
        if not completion_order:
            # the FIRST pulled blob lands while the blocked reducer has
            # produced nothing — its file must not exist yet
            assert not os.path.exists(str(out_dir / f"r{blocked_r}"))
            with open(sentinel, "w"):
                pass
        completion_order.append(r_id)

    job = MapReduceJob("t_midjob_pull", f_map, f_reduce, r=r)
    done = stream_reducer_results(job.run(inputs), str(out_dir), on_complete)
    assert sorted(done) == [0, 1, 2]
    # the blocked reducer can never be FIRST: it waits on the sentinel
    # only a prior completion writes (the on_complete hook above also
    # asserted its file was absent when the first blob landed). Any
    # stronger ordering — e.g. free_r strictly before blocked_r — is a
    # scheduling race once the gate opens: under load the free pull can
    # legitimately straggle past the unblocked one (observed flaking on
    # a contended box), while the mid-job property this test exists for
    # is already pinned by the sentinel hand-off itself.
    assert completion_order[0] != blocked_r
    for i, key in key_of.items():
        assert (out_dir / f"r{i}").read_text() == f"{key}:4\n"


def test_cli_dfs_daemon_two_cycles_repairs(spark, tmp_path, capsys):
    """dfs-daemon (cn/struct.go:58-66 parity, VERDICT r13 #9): the
    always-on controller loop as a CLI verb. Two bounded cycles over a
    layout with one corrupt replica: cycle 0 heartbeats, reports the
    membership + under-replication state, deletes the corrupt replica
    and re-replicates it; cycle 1 finds a clean layout. One JSON line
    per cycle."""
    import json as _json
    import os

    from go_dfs_mapreduce_spark.sources.dfs_chunks import chunk_name
    from tests.test_dfs_chunks import _write_chunk

    n1, n2 = str(tmp_path / "node1"), str(tmp_path / "node2")
    data = b"alpha beta\ngamma delta\n"
    _write_chunk(n1, "doc.txt", "TXT", 0, data, corrupt=True)
    _write_chunk(n2, "doc.txt", "TXT", 0, data)
    rc, out = _run(
        capsys,
        "dfs-daemon",
        ",".join((n1, n2)),
        "--cycles",
        "2",
        "--interval-s",
        "0",
        "--replicas",
        "2",
        "--heartbeat",
    )
    assert rc == 0
    c0, c1 = [_json.loads(line) for line in out.splitlines()]
    assert c0["cycle"] == 0 and c0["alive"] == 2 and c0["missing_dirs"] == 0
    assert c0["corrupt"] == 1 and c0["repaired"] == 1
    assert c1["cycle"] == 1 and c1["corrupt"] == 0 and c1["repaired"] == 0
    # the heartbeat twin landed in both dirs and the replica is back
    assert os.path.exists(os.path.join(n1, ".heartbeat"))
    assert os.path.exists(os.path.join(n1, chunk_name("doc.txt", "TXT", 0)))
    # node LOSS is a dead node, not a daemon crash (cn/struct.go:189-232
    # keeps repairing from survivors): a vanished dir is reported and the
    # cycle still verifies the remaining replicas
    rc, out = _run(
        capsys,
        "dfs-daemon",
        ",".join((n1, n2, str(tmp_path / "gone"))),
        "--cycles",
        "1",
        "--interval-s",
        "0",
        "--replicas",
        "2",
        "--heartbeat",
    )
    assert rc == 0
    (c,) = [_json.loads(line) for line in out.splitlines()]
    assert c["missing_dirs"] == 1 and c["alive"] == 2
    assert c["chunks"] == 1 and c["corrupt"] == 0


def test_result_pull_streams_rows_lazily(spark):
    """The per-partition pull is a ROW STREAM, not a whole-partition
    list (VERDICT r14 #4): `_iter_partition` is sc.runJob minus its
    materializing list(), so the Python driver holds O(socket buffer)
    rows however big the reducer output — PULL_POOL sizes only the
    JVM-side in-flight partitions. Pin that the pull yields an
    incremental iterator with the right contents, and that the pool
    size honors GO_DFS_MR_PULL_POOL."""
    from go_dfs_mapreduce_spark.mapreduce import results as results_mod

    df = spark.range(1000).selectExpr(
        "CAST(0 AS INT) AS r_id", "CAST(id AS INT) AS seq",
        "CAST(id AS STRING) AS line",
    ).repartition(1, "r_id")
    it = results_mod._iter_partition(
        spark.sparkContext, df.rdd, 0
    )
    assert not isinstance(it, (list, tuple))  # lazy, not materialized
    first = next(it)
    assert first.r_id == 0
    rest = list(it)
    assert len(rest) == 999
    # partial consumption must be safe (the _SplitReducer abort path
    # abandons in-flight streams): a fresh stream, read 3 rows, drop it
    it2 = results_mod._iter_partition(spark.sparkContext, df.rdd, 0)
    for _ in range(3):
        next(it2)
    del it2
    # env knob (ADVICE r14): PULL_POOL is read from GO_DFS_MR_PULL_POOL
    import importlib
    import os as _os

    old = _os.environ.get("GO_DFS_MR_PULL_POOL")
    try:
        _os.environ["GO_DFS_MR_PULL_POOL"] = "2"
        importlib.reload(results_mod)
        assert results_mod.PULL_POOL == 2
    finally:
        if old is None:
            _os.environ.pop("GO_DFS_MR_PULL_POOL", None)
        else:
            _os.environ["GO_DFS_MR_PULL_POOL"] = old
        importlib.reload(results_mod)


def test_result_pull_falls_back_without_socket_helper(spark, monkeypatch):
    """`_iter_partition`'s safety net: the lazy path leans on pyspark's
    PRIVATE `_load_from_socket`; if a pyspark upgrade moves it, the pull
    must degrade to the materializing runJob — same rows in the same
    order, trading driver memory, never a crash."""
    import pyspark.rdd

    from go_dfs_mapreduce_spark.mapreduce import results as results_mod

    monkeypatch.delattr(pyspark.rdd, "_load_from_socket")
    df = spark.range(100).selectExpr(
        "CAST(0 AS INT) AS r_id", "CAST(id AS INT) AS seq",
        "CAST(id AS STRING) AS line",
    ).repartition(1, "r_id")
    rows = list(
        results_mod._iter_partition(spark.sparkContext, df.rdd, 0)
    )
    assert len(rows) == 100
    assert {r.r_id for r in rows} == {0}
    assert sorted(int(r.line) for r in rows) == list(range(100))


def test_result_pull_runs_no_python_identity_stage(
    spark, tmp_path, monkeypatch
):
    """The pull serves each partition's pickled rows straight from the
    JVM (``PythonRDD.runJob`` on the row RDD itself): no
    ``mapPartitions`` wrapper, so no Python worker re-pickles rows that
    it does not transform. With ``RDD.mapPartitions`` made to raise, an
    Arrow-path MR job's streamed files must still equal the ordered
    job-end drain byte for byte. The materializing fallback goes through
    ``sc.runJob`` (which calls ``mapPartitions``), so this also pins that
    the direct path, not the fallback, served the rows. Two callers may
    share one session, so ``RuntimeConfig.set`` raises too: the pull
    flips no session conf value around its drain."""
    import os

    import pyspark.rdd
    from pyspark.sql.conf import RuntimeConfig

    from go_dfs_mapreduce_spark.mapreduce import MapReduceJob
    from go_dfs_mapreduce_spark.mapreduce import results as results_mod

    def f_map(file, line_no, line, out):
        for w in line.split():
            out.append(w)
            out.append("1")

    def f_reduce(keys, values, out):
        tally = {}
        for k, v in zip(keys, values):
            tally[k] = tally.get(k, 0) + int(v)
        for k in sorted(tally):
            out.append(f"{k}={tally[k]}")

    def no_identity_stage(self, *args, **kwargs):
        raise AssertionError("result pull ran a Python mapPartitions stage")

    def no_conf_set(self, *args, **kwargs):
        raise AssertionError("result pull changed the session conf")

    inputs = spark.createDataFrame(
        [("t.txt", i, f"w{i % 7} w{i % 3} x") for i in range(1, 60)],
        "file string, line_number long, line string",
    )
    result = MapReduceJob("t_pull_no_identity", f_map, f_reduce, r=4).run(
        inputs
    )
    monkeypatch.setattr(pyspark.rdd.RDD, "mapPartitions", no_identity_stage)
    monkeypatch.setattr(RuntimeConfig, "set", no_conf_set)
    streamed, ordered = tmp_path / "streamed", tmp_path / "ordered"
    ordered.mkdir()
    done = results_mod.stream_reducer_results(result, str(streamed))
    want = results_mod._ordered_drain(result, str(ordered), None)

    def read(d):
        return {f: (d / f).read_bytes() for f in os.listdir(d)}

    assert sorted(done) == sorted(want) and done
    assert read(streamed) == read(ordered)


def test_cli_dfs_daemon_repairs_off_dead_node(spark, tmp_path, capsys):
    """Dead-node re-replication (ADVICE r14): a replica sitting on a
    flatlined-but-present node is NOT a healthy copy — the daemon's
    repair arm must see only live nodes, so the chunk stranded at one
    live replica gets re-copied onto the other live node (the reference
    controller re-replicates off dead nodes, cn/struct.go:234-392)."""
    import json as _json
    import os
    import time

    from go_dfs_mapreduce_spark.sources.dfs_chunks import chunk_name
    from go_dfs_mapreduce_spark.sources.membership import touch_heartbeat
    from tests.test_dfs_chunks import _write_chunk

    n1, n2, n3 = (str(tmp_path / f"node{i}") for i in (1, 2, 3))
    data = b"alpha beta\n"
    name = chunk_name("doc.txt", "TXT", 0)
    _write_chunk(n1, "doc.txt", "TXT", 0, data)
    os.makedirs(n2)
    _write_chunk(n3, "doc.txt", "TXT", 0, data)
    # n3 is present but DEAD: no .heartbeat, and its chunk mtime (the
    # migration-mode stand-in) is a minute stale
    old = time.time() - 60
    for e in os.listdir(n3):
        os.utime(os.path.join(n3, e), (old, old))
    # n1/n2 heartbeat as live storage nodes (the daemon itself runs
    # controller-only here: --heartbeat would revive n3 too)
    touch_heartbeat(n1)
    touch_heartbeat(n2)
    rc, out = _run(
        capsys,
        "dfs-daemon",
        ",".join((n1, n2, n3)),
        "--cycles",
        "1",
        "--interval-s",
        "0",
        "--replicas",
        "2",
    )
    assert rc == 0
    (c,) = [_json.loads(line) for line in out.splitlines()]
    assert c["alive"] == 2 and c["missing_dirs"] == 0
    # the under-replication (1 live copy < 2) was repaired onto n2
    assert c["repaired"] == 1
    assert os.path.exists(os.path.join(n2, name))


def test_cli_dfs_daemon_survives_heartbeat_toctou(
    spark, tmp_path, capsys, monkeypatch
):
    """A node dir vanishing between the per-cycle isdir scan and the
    heartbeat write (or inside node_status/fsck) is a dead node for that
    cycle, not a daemon crash (ADVICE r14 TOCTOU)."""
    import json as _json

    from go_dfs_mapreduce_spark.sources import membership
    from tests.test_dfs_chunks import _write_chunk

    n1, n2 = str(tmp_path / "node1"), str(tmp_path / "node2")
    _write_chunk(n1, "doc.txt", "TXT", 0, b"alpha\n")
    _write_chunk(n2, "doc.txt", "TXT", 0, b"alpha\n")
    real_touch = membership.touch_heartbeat

    def flaky_touch(node_dir, space=None):
        if node_dir == n2:  # simulate the dir vanishing mid-cycle
            raise FileNotFoundError(node_dir)
        return real_touch(node_dir, space)

    monkeypatch.setattr(membership, "touch_heartbeat", flaky_touch)
    rc, out = _run(
        capsys,
        "dfs-daemon",
        ",".join((n1, n2)),
        "--cycles",
        "2",
        "--interval-s",
        "0",
        "--replicas",
        "1",
        "--heartbeat",
    )
    assert rc == 0
    cycles = [_json.loads(line) for line in out.splitlines()]
    assert len(cycles) == 2  # the daemon survived both cycles
    # n2 never heartbeats, so after the migration-mode grace it reports
    # dead-or-alive per its chunk mtime; the important part is no crash
    assert all(c["alive"] >= 1 for c in cycles)


def test_mr_cli_lowered_log_analyzer_streams_per_reducer(
    spark, tmp_path, wh_root, capsys, monkeypatch
):
    """Pins the ReduceExpr-lowered path THROUGH the streamed pull ON THE
    MID-JOB PATH (VERDICT r14 #2): the log_analyzer reduce lowers to a
    relational builder that UNIONS branches whose output partitionings
    disagree — without the plan's final r_id repartition one r_id's rows
    DID span pulled partitions and the writer fell back to the ordered
    job-end drain (observed live, the r14 parity partial). The lowered
    plan now ends in a hash exchange on r_id, so the pull must complete
    WITHOUT the fallback, and the files still match the unlowered Arrow
    reduce byte-for-byte."""
    from go_dfs_mapreduce_spark.mapreduce import results as results_mod

    fallback_calls: list[str] = []
    real_fallback = results_mod._ordered_drain

    def spying_fallback(result, out_dir, on_complete):
        fallback_calls.append(out_dir)
        return real_fallback(result, out_dir, on_complete)

    monkeypatch.setattr(results_mod, "_ordered_drain", spying_fallback)
    src = tmp_path / "crawl.log"
    src.write_text(
        "10.0.0.1 - - [x] \"GET /a HTTP/1.1\" 200 123 \"-\" \"bot\"\n"
        "10.0.0.2 - - [x] \"GET http://example.com/b HTTP/1.1\" 404 5 \"-\" \"ua\"\n"
        * 40
    )
    rc, _ = _run(capsys, "--warehouse", wh_root, "store", str(src))
    assert rc == 0
    out_dir = tmp_path / "out"
    rc, out = _run(
        capsys, "--warehouse", wh_root, "mr", "log_analyzer", "-o", str(out_dir)
    )
    assert rc == 0
    pulls = [line for line in out.splitlines() if line.startswith("pulled r")]
    assert pulls, out
    # the lowered plan's final r_id exchange keeps one r_id per pulled
    # partition: the mid-job path must succeed, fallback never fires
    assert not fallback_calls
    lowered = {f.name: f.read_text() for f in out_dir.iterdir()}

    from go_dfs_mapreduce_spark.mapreduce import MapReduceJob, plugins
    from go_dfs_mapreduce_spark.mapreduce.results import (
        stream_reducer_results,
    )
    from pyspark.sql import functions as F

    wh = cli.Warehouse(spark, wh_root) if hasattr(cli, "Warehouse") else None
    from go_dfs_mapreduce_spark.sources import Warehouse

    inputs = (
        Warehouse(spark, wh_root)
        .read("crawl.log")
        .select(
            F.lit("crawl.log").alias("file"),
            F.col("line_number").cast("long").alias("line_number"),
            F.col("value").alias("line"),
        )
    )
    arrow_dir = tmp_path / "arrow_out"
    job = MapReduceJob(
        "t_log_arrow_baseline",
        plugins.log_analyzer_map,
        plugins.log_analyzer_reduce,
        r=plugins.LOG_ANALYZER_R,
        lower=False,
    )
    stream_reducer_results(job.run(inputs), str(arrow_dir))
    arrow = {f.name: f.read_text() for f in arrow_dir.iterdir()}
    assert lowered == arrow and lowered


def test_lowered_log_analyzer_leaves_no_cached_frame(spark, tmp_path):
    """No query may leave a cached frame in the session: the lowered
    log_analyzer reduce runs its composite tally inside the job, with no
    ``.cache()`` (or any other materialization), so after the job and its
    pull the session's CacheManager is empty. The files still equal the
    unlowered Arrow reduce (the byte-for-byte pin is
    ``test_mr_cli_lowered_log_analyzer_streams_per_reducer``)."""
    from go_dfs_mapreduce_spark.mapreduce import MapReduceJob, plugins
    from go_dfs_mapreduce_spark.mapreduce.results import (
        stream_reducer_results,
    )

    log = (
        "10.0.0.1 - - [x] \"GET /a HTTP/1.1\" 200 123 \"-\" \"bot\"",
        "10.0.0.2 - - [x] \"GET http://example.com/b HTTP/1.1\" 404 5 \"-\" \"ua\"",
        "10.0.0.3 - - [x] \"GET http://example.org/c/d HTTP/1.1\" 200 9 \"-\" \"bot\"",
    )
    inputs = spark.createDataFrame(
        [("crawl.log", i, log[i % len(log)]) for i in range(1, 91)],
        "file string, line_number long, line string",
    )
    # the same contract bench.py runs each op under: start from an empty
    # cache (session memos re-persist on their next use)
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()

    def files(lower: bool, out_dir) -> dict[str, str]:
        job = MapReduceJob(
            f"t_log_no_cache_{lower}",
            plugins.log_analyzer_map,
            plugins.log_analyzer_reduce,
            r=plugins.LOG_ANALYZER_R,
            lower=lower,
        )
        stream_reducer_results(job.run(inputs), str(out_dir))
        return {f.name: f.read_text() for f in out_dir.iterdir()}

    lowered = files(True, tmp_path / "lowered")
    assert cache_manager.isEmpty()
    assert lowered and lowered == files(False, tmp_path / "arrow")

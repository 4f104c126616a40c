"""Persisted derived-table warehouse: feature/index tables built once per
source-corpus version and reused by every consumer — the production
pattern behind round 7's cold-path wins (VERDICT r6 #5).

Several operator families re-derive the same small intermediate frame
from the raw tables on every cold invocation: the graph family's
co-purchase edge list (lineitem self-join + distinct) and the dedup
family's per-doc shingle arrays (tokenize + collect_set). Both are
orders of magnitude smaller than their source (8.1 MB edges / 2.2 MB
shingle arrays at sf0.1) and strictly determined by it — exactly what a
100 TB deployment materializes as a curated feature table next to the
corpus rather than recomputing per query. Measured at sf0.1 (median of
3, cache-cleared): edges build 2.71 s vs parquet re-read 0.31 s,
shingle arrays 1.21 s vs 0.28 s (SCALE.md round-7).

Staleness is handled by CONTENT FINGERPRINT, not trust: the cache key
includes (layout version, builder version, absolute sf_dir, and a
per-data-file token of every source parquet file), so regenerating the
testdata — or pointing at a different corpus — misses the cache and
rebuilds rather than silently serving stale rows. The per-file token is
(size, mtime_ns) by default; ``SPARK_GRAFT_FP_MODE=content`` swaps in a
size + head/tail md5 sample for stores whose mtimes are not stable
across copies (object-store posture, VERDICT r14 #5).

Publishing is MANIFEST-GATED: a build lands in a pid-suffixed temp dir,
``_MANIFEST.json`` is written LAST (it records the fingerprint inputs
and generation chain), and the dir is renamed into place. Readers trust
a version dir ONLY if its manifest exists — on a POSIX FS the rename is
atomic anyway; on an object-store mount where a directory "rename" is a
non-atomic copy, a torn publish is never READ as published (worst case
it rebuilds; the litter is GC-able). The loser of a concurrent publish
race discards its copy, and stale fingerprints of the same table are
garbage-collected on the next build (KEEP_VERSIONS newest retained).

INCREMENTAL INGEST: a builder whose rows are per-source-row independent
(the LSH band index: one row set per doc) may pass ``delta_build``;
when the corpus change is purely ADDITIVE (every previously
fingerprinted data file unchanged, new files added — the landing
pattern of a growing corpus), the new version is published as the old
version's data files (hardlinked, falling back to copy) plus the delta
builder's output over ONLY the new files, with the manifest recording
the generation chain. Any non-additive change — or a builder without a
delta — takes the full rebuild, which doubles as the compaction.

This layer only decides what a COLD build costs; the session's
persisted handle on a read-back is ``memo.index_table``'s.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .memo import plan_memo
from .tables import local_bytes

# v2: manifest-gated publish + metadata-file-free fingerprints (v1 dirs
# have no manifest and fold _SUCCESS markers into the fingerprint; the
# version bump retires them cleanly — they age out via the normal GC)
_LAYOUT_VERSION = 2
_MANIFEST = "_MANIFEST.json"
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_base() -> str:
    return os.environ.get("SPARK_GRAFT_DERIVED_DIR") or os.path.join(
        _REPO_ROOT, "warehouse", "derived"
    )


def _fp_mode() -> str:
    mode = os.environ.get("SPARK_GRAFT_FP_MODE", "stat")
    if mode not in ("stat", "content"):
        raise ValueError(
            f"SPARK_GRAFT_FP_MODE must be 'stat' or 'content', got {mode!r}"
        )
    return mode


def _file_token(path: str, size: int, mtime_ns: int, mode: str) -> str:
    """Per-file change token. 'stat' trusts (size, mtime_ns) — free, and
    correct on any FS that preserves mtimes (immutable-object stores
    qualify: re-upload implies possible content change, so a LastModified
    bump forcing a rebuild is the safe direction). 'content' samples the
    first+last 1 MiB through md5 for stores/copies with unstable mtimes —
    O(2 MiB) per file per lookup instead of a full read, and a parquet
    file can't change rows without changing its head (magic+schema
    offsets) or its tail (the footer with row-group metadata)."""
    if mode == "stat":
        return str(mtime_ns)
    h = hashlib.md5()
    sample = 1 << 20
    with open(path, "rb") as fh:
        h.update(fh.read(sample))
        if size > 2 * sample:
            fh.seek(size - sample)
        h.update(fh.read(sample))
    return h.hexdigest()


def _source_files(
    sf_dir: str, source_tables: tuple[str, ...], mode: str
) -> list[list]:
    """[[relpath, size, token], ...] for every DATA file of the source
    tables, sorted. Spark-convention metadata files (basenames starting
    with '_' or '.': _SUCCESS, .crc sidecars) are excluded — they are
    rewritten by appends that leave every data file untouched, and the
    additive-ingest detection below compares exactly these entries."""
    parts: list[list] = []
    for t in source_tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in sorted(files):
                    if f.startswith(("_", ".")):
                        continue
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    parts.append(
                        [
                            os.path.relpath(fp, sf_dir),
                            st.st_size,
                            _file_token(fp, st.st_size, st.st_mtime_ns, mode),
                        ]
                    )
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(
                [
                    f"{t}.parquet",
                    st.st_size,
                    _file_token(p, st.st_size, st.st_mtime_ns, mode),
                ]
            )
    parts.sort()
    return parts


def _source_fingerprint(
    sf_dir: str, source_tables: tuple[str, ...], version: int = 1
) -> str:
    """Content key of the source tables: any data-file size/token change
    changes the fingerprint. ``version`` is the BUILDER'S OWN version
    (per table, bumped by the caller whenever the builder's semantics
    change — a new hash formula, a different lane count), and the global
    layout version is folded in too: fingerprinting only source bytes
    would silently serve a stale index after a code change (round-14
    review finding)."""
    mode = _fp_mode()
    parts = _source_files(sf_dir, source_tables, mode)
    blob = json.dumps(
        [
            _LAYOUT_VERSION,
            version,
            mode,
            os.path.abspath(sf_dir),
            parts,
        ],
        separators=(",", ":"),
    )
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def _write_manifest(dir_: str, payload: dict) -> None:
    """The LAST file written into a version dir — its presence IS the
    published bit. Written via tmp + same-dir rename so a reader never
    sees a half-written manifest."""
    tmp = os.path.join(dir_, f".{_MANIFEST}.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh, separators=(",", ":"))
    os.replace(tmp, os.path.join(dir_, _MANIFEST))


def _read_manifest(dir_: str) -> dict | None:
    try:
        with open(os.path.join(dir_, _MANIFEST)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _is_published(dir_: str) -> bool:
    return os.path.isfile(os.path.join(dir_, _MANIFEST))


def _latest_published(
    base: str, name: str, match: dict | None = None
) -> tuple[str, dict] | None:
    """Newest published version dir of ``name`` (by manifest mtime) and
    its manifest — the append candidate. ``match`` restricts to versions
    whose manifest agrees on the given fields (corpus dir, builder
    version, fp mode — so gate/bench corpora alternating in one
    warehouse can't shadow each other's append basis). Tolerates
    concurrent GC."""
    best: tuple[float, str, dict] | None = None
    try:
        entries = os.listdir(base)
    except OSError:
        return None
    for d in entries:
        if not d.startswith(f"{name}-") or ".tmp-" in d:
            continue
        p = os.path.join(base, d)
        man = _read_manifest(p)
        if man is None or man.get("name") != name:
            continue
        if match and any(man.get(k) != v for k, v in match.items()):
            continue
        mt = _mtime_or_zero(os.path.join(p, _MANIFEST))
        if best is None or mt > best[0]:
            best = (mt, p, man)
    return None if best is None else (best[1], best[2])


def derived_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    source_tables: tuple[str, ...],
    build: Callable[[], DataFrame],
    version: int = 1,
    delta_build: Callable[[list[str]], DataFrame] | None = None,
) -> DataFrame:
    """Return ``name`` derived from ``source_tables`` under ``sf_dir``,
    reading the fingerprint-matched parquet copy if one exists and
    building + publishing it (manifest last, then atomic rename)
    otherwise.

    ``delta_build(new_data_files) -> DataFrame`` opts into the APPEND
    path: valid only for builders whose output rows depend on their
    source rows independently (band signatures per doc — NOT k-means
    cells, whose centroids are global). When the previous published
    version's fingerprinted data files are all unchanged and the corpus
    only GREW, the new version hardlinks the old data files and appends
    ``delta_build``'s rows over just the new files — per-ingest cost is
    the batch, not the corpus. Everything else (first build, mutated or
    shrunk corpus, changed fingerprint mode or builder version) takes
    the full ``build()``, which is also the compaction story.

    The read-back is REPARTITIONED before it reaches consumers: these
    feature tables are megabytes, so the scan's file bin-packing
    (maxPartitionBytes + openCostInBytes) collapses them into a handful
    of read partitions, and a consumer that persists the frame inherits
    that collapsed parallelism in every map-side stage built on the
    cache — measured on the common-neighbors wedge self-join as 34.9 s
    vs 22.5 s at sf0.1 (SCALE.md round-7). r15: the partition count is
    DERIVED FROM THE TABLE'S SIZE (ceil(bytes / 128 KiB on-disk),
    capped at the session cores) instead of pinned to the core count —
    a sub-MB index cached as 32 near-empty partitions made every
    consumer stage pay 32 task launches for microseconds of work each
    (measured on the LSH pipeline at sf0.1, interleaved A/B: query
    med 1000-1524 ms at 32 partitions vs 887-925 ms at 8, populate
    280-430 ms vs 227-242 ms), while tables big enough to feed heavy
    compute (the 8.1 MB edge list -> 63 estimated splits) still spread
    to every core. The read-back plan is memoized: a fresh
    spark.read.parquet of the same dir costs ~185 ms of driver time per
    call (file index + footer), paid once per bench rep by every
    reloading consumer."""
    base = _default_base()
    mode = _fp_mode()
    fp = _source_fingerprint(sf_dir, source_tables, version)
    dst = os.path.join(base, f"{name}-{fp}")
    if not _is_published(dst):
        if os.path.isdir(dst):
            # manifest-less dir at the right fingerprint: a torn publish
            # (non-atomic rename crashed mid-copy) — never read it
            shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        files_now = _source_files(sf_dir, source_tables, mode)
        tmp = f"{dst}.tmp-{os.getpid()}"
        # a crashed earlier build (pid reuse) may have left this exact
        # tmp dir with stale part files — the append path hardlinks INTO
        # tmp, so leftovers would silently ride into the publish
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = {
            "layout_version": _LAYOUT_VERSION,
            "builder_version": version,
            "fp_mode": mode,
            "name": name,
            "fingerprint": fp,
            "sf_dir": os.path.abspath(sf_dir),
            "source_tables": list(source_tables),
            "source_files": files_now,
            "generations": 1,
            "appended_from": None,
        }
        appended = _try_append(
            spark, base, name, sf_dir, manifest, tmp, delta_build, files_now
        )
        if not appended:
            build().write.mode("overwrite").parquet(tmp)
        _write_manifest(tmp, manifest)
        try:
            os.rename(tmp, dst)
        except OSError:
            # a concurrent builder published first; its copy is
            # byte-equivalent in content (same fingerprint), keep it
            shutil.rmtree(tmp, ignore_errors=True)
        _gc_stale_versions(base, name, keep=os.path.basename(dst))
        if not _is_published(dst):
            # rename lost to something that is NOT a finished publish
            # (e.g. a torn dir recreated concurrently): reading it could
            # return partial rows — fail loud instead
            raise RuntimeError(
                f"derived-table publish failed for {dst}: no manifest"
            )
    return _read_back(spark, dst)


# on-disk bytes of derived table per spread partition. Parquet of these
# tables deserializes ~6x larger in cache, so 128 KiB on disk ~ 0.8 MB of
# cached rows per task — below that, task launch dominates the work
# (measured, see derived_table docstring).
_SPREAD_TARGET = 128 * 1024


def _spread_partitions(spark: SparkSession, dst: str) -> int:
    size = local_bytes([dst]) or 0
    cores = max(spark.sparkContext.defaultParallelism, 1)
    return max(1, min(cores, (size + _SPREAD_TARGET - 1) // _SPREAD_TARGET))


def _read_back(spark: SparkSession, dst: str) -> DataFrame:
    try:
        # a GC'd-then-republished version lands at the SAME path with new
        # part-file names; the dir mtime distinguishes the generations so
        # a memoized file index never points at vanished part files
        dir_mtime = os.stat(dst).st_mtime_ns
    except OSError:
        dir_mtime = 0
    return plan_memo(
        spark,
        ("read_back", dst),
        dir_mtime,
        lambda: spark.read.parquet(dst).repartition(
            _spread_partitions(spark, dst)
        ),
    )


def _try_append(
    spark: SparkSession,
    base: str,
    name: str,
    sf_dir: str,
    manifest: dict,
    tmp: str,
    delta_build: Callable[[list[str]], DataFrame] | None,
    files_now: list[list],
) -> bool:
    """Attempt the additive-ingest publish into ``tmp``; mutates
    ``manifest`` with the generation chain on success. False means the
    caller runs the full build (also the explicit compaction path)."""
    if delta_build is None:
        return False
    prev = _latest_published(
        base,
        name,
        match={
            "layout_version": _LAYOUT_VERSION,
            "builder_version": manifest["builder_version"],
            "fp_mode": manifest["fp_mode"],
            "sf_dir": manifest["sf_dir"],
        },
    )
    if prev is None:
        return False
    prev_dir, prev_man = prev
    old = {tuple(e) for e in prev_man.get("source_files", [])}
    now = {tuple(e) for e in files_now}
    new_entries = now - old
    if not (old and old <= now and new_entries):
        return False  # not purely additive (or nothing new): full rebuild
    new_paths = [
        os.path.join(sf_dir, rel) for rel, _, _ in sorted(new_entries)
    ]
    os.makedirs(tmp, exist_ok=True)
    try:
        for f in os.listdir(prev_dir):
            if f == _MANIFEST or f.startswith(("_", ".")):
                continue
            src, dst_f = os.path.join(prev_dir, f), os.path.join(tmp, f)
            try:
                os.link(src, dst_f)  # hardlink: append cost is the delta
            except OSError:
                shutil.copy2(src, dst_f)
    except OSError:
        # prev version GC'd by a concurrent session mid-copy: the append
        # basis is gone — fall back to the full rebuild, never crash
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        return False
    try:
        delta_build(new_paths).write.mode("append").parquet(tmp)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    manifest["generations"] = int(prev_man.get("generations", 1)) + 1
    manifest["appended_from"] = prev_man.get("fingerprint")
    manifest["delta_files"] = [list(e) for e in sorted(new_entries)]
    return True


# Published versions of one table retained per name: the fingerprint
# embeds the corpus path, so gate (sf0.01) and bench (sf0.1) runs that
# alternate would otherwise delete each other's live copy every build —
# rebuild-thrash, plus an rmtree under a concurrent reader's scan
# (round-14 review finding). Keeping a few newest versions makes the
# common multi-corpus workflow stable; truly stale versions age out.
KEEP_VERSIONS = 4


def _size_or_zero(path: str) -> int:
    """Compaction sizing tolerant of a concurrent GC dropping the
    version mid-scan (same posture as the inventory walk)."""
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _mtime_or_zero(path: str) -> float:
    """GC sort key tolerant of a CONCURRENT session GC-ing the same table
    between our listdir and the stat (round-14 advice): a vanished entry
    sorts oldest and the rmtree below is already ignore_errors."""
    try:
        return os.path.getmtime(path)
    except OSError:
        return 0.0


def _gc_stale_versions(base: str, name: str, keep: str) -> None:
    """Drop this table's oldest published versions beyond KEEP_VERSIONS
    (never the one just published, never in-flight .tmp dirs)."""
    versions = [
        d
        for d in os.listdir(base)
        if d.startswith(f"{name}-") and ".tmp-" not in d
    ]
    versions.sort(
        key=lambda d: _mtime_or_zero(os.path.join(base, d)), reverse=True
    )
    for d in versions[KEEP_VERSIONS:]:
        if d != keep:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def _bases() -> list[str]:
    """All artifact stores under the warehouse root: the derived parquet
    tables plus the sibling bin_store (reference-layout chunk corpora,
    e.g. the stored-BIN decode twin's) and fixtures (the append-demo's
    re-laid corpora) — one inventory/GC surface for all three
    (round-14 review: bin_store was invisible to `derived ls`/`gc`, so a
    crashed build's .tmp dir leaked forever; r15 adds fixtures for the
    same reason)."""
    base = _default_base()
    root = os.path.dirname(base.rstrip(os.sep))
    out = [base]
    for sib in ("bin_store", "fixtures"):
        p = os.path.join(root, sib)
        if os.path.isdir(p):
            out.append(p)
    return out


def list_tables() -> list[dict]:
    """Inventory of the derived warehouse: one dict per published table
    version (name, fingerprint, bytes, part files, mtime) plus any
    orphaned .tmp dirs from crashed builders."""
    out: list[dict] = []
    for base in _bases():
        if not os.path.isdir(base):
            continue
        _list_base(base, out)
    return out


def _list_base(base: str, out: list[dict]) -> None:
    for d in sorted(os.listdir(base)):
        p = os.path.join(base, d)
        if not os.path.isdir(p):
            continue
        files = [
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs
        ]
        name, _, fp = d.rpartition("-")
        man = _read_manifest(p)
        out.append(
            {
                "name": name if ".tmp-" not in d else d,
                "fingerprint": fp if ".tmp-" not in d else None,
                "orphan_tmp": ".tmp-" in d,
                "published": man is not None,
                "generations": None if man is None else man.get("generations"),
                "bytes": sum(_size_or_zero(f) for f in files),
                "n_files": len(files),
                "mtime": int(_mtime_or_zero(p)),
                "store": os.path.basename(base),
            }
        )


# target on-disk bytes per compacted part file (the parquet sweet spot
# for scan split sizing; tiny tables compact to one file)
_COMPACT_TARGET_BYTES = 128 << 20


def compact(spark: SparkSession, name: str | None = None) -> list[dict]:
    """Rewrite multi-generation (appended) published versions as
    single-generation compacted publishes — the small-file control for
    the additive-ingest path: nightly appends add one small part-file
    set per generation, and a year of them would make every consumer
    scan schedule hundreds of tiny splits. Compaction reads the current
    rows back and republishes them sized to ~128 MiB per file, manifest
    generations reset to 1 (with the prior chain length recorded), same
    fingerprint — consumers and FUTURE APPENDS (the manifest keeps the
    source-file list) are unaffected.

    The in-place swap (build tmp, drop dir, rename) is NOT atomic —
    there is no rename-over-dir. The manifest gate keeps the window
    safe: a reader hitting the gap or a torn swap sees an unpublished
    dir and rebuilds rather than reading partial rows. Run compaction
    like any maintenance pass: not concurrently with a cold consumer of
    the same table version.

    Returns one dict per compacted version (name, fingerprint,
    generations folded, files before/after)."""
    out: list[dict] = []
    base = _default_base()
    if not os.path.isdir(base):
        return out
    for d in sorted(os.listdir(base)):
        if ".tmp-" in d:
            # an orphaned build dir can carry a manifest if its builder
            # crashed between manifest write and rename — it is litter
            # for `gc`, never a compaction target
            continue
        p = os.path.join(base, d)
        man = _read_manifest(p)
        if man is None:
            continue
        if name is not None and man.get("name") != name:
            continue
        gens = int(man.get("generations", 1))
        if gens <= 1:
            continue
        data_files = [
            f
            for f in os.listdir(p)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(p, f))
        ]
        total = sum(
            _size_or_zero(os.path.join(p, f)) for f in data_files
        )
        n_out = max(1, -(-total // _COMPACT_TARGET_BYTES))
        tmp = f"{p}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        spark.read.parquet(p).coalesce(n_out).write.mode(
            "overwrite"
        ).parquet(tmp)
        man2 = dict(man)
        man2["generations"] = 1
        man2["appended_from"] = None
        man2["compacted_generations"] = gens
        man2.pop("delta_files", None)
        _write_manifest(tmp, man2)
        shutil.rmtree(p, ignore_errors=True)
        try:
            os.rename(tmp, p)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            continue
        after = [
            f
            for f in os.listdir(p)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(p, f))
        ]
        out.append(
            {
                "name": man.get("name"),
                "fingerprint": man.get("fingerprint"),
                "generations_folded": gens,
                "files_before": len(data_files),
                "files_after": len(after),
                "bytes": total,
            }
        )
    return out


def gc(drop_all: bool = False) -> list[str]:
    """Remove orphaned .tmp build dirs (always safe: a live builder
    publishes via rename, so anything still named .tmp-* after its
    process exits is litter); with ``drop_all``, drop every published
    table too — they rebuild from source on next use."""
    removed: list[str] = []
    for base in _bases():
        if not os.path.isdir(base):
            continue
        for d in sorted(os.listdir(base)):
            p = os.path.join(base, d)
            if not os.path.isdir(p):
                continue
            if ".tmp-" in d or drop_all:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(d)
    return removed

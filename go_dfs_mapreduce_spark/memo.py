"""The session memo store: every value the package reuses across calls in
one Spark session lives in ``_STORE``.

Key rule. An entry is keyed ``(applicationId, session_id(spark),
identity)`` and holds ``(token, value)``:

- ``identity`` names what is memoized: the memo's name, the absolute
  input dir and any hyperparameter (``k``, ``bits``) that selects a
  different value;
- ``token`` is the version of the input the value was built from: the
  source-corpus fingerprint (``derived._source_fingerprint``) or a file
  stat. A lookup whose token differs is a miss, so a corpus that changes
  mid-session is never answered from the old version.

The session id is in the key because a plan runs under the session that
built it: a ``newSession()`` sibling shares the applicationId but not its
confs, temp views or UDFs, so it gets values built under its own conf.

Sweep. Each lookup drops the entries of other (stopped) applications —
their DataFrames point into dead JVM contexts — and a miss replaces the
entry under the same key; a persisted value superseded by a new token is
unpersisted. So the store holds at most one version per (session,
identity).

``plan_memo`` holds lazy plans and scalars (nothing caches rows),
``frame_memo`` persisted frames, and ``index_table`` the persisted
read-back of a fingerprinted derived-warehouse table.

The streaming fixture-dir memos (``streaming_batch._CHUNK_TAIL_MEMO``,
``_SPLIT_MEMO``) stay outside the store: their values are on-disk
directories shared by every session of the application, not session
state, and they sweep those directories with
``streaming_batch._evict_stale_fixture_dirs``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_STORE: dict[tuple, tuple[object, object]] = {}


def session_id(spark: SparkSession) -> str:
    """The JVM session's UUID (``newSession()`` siblings differ)."""
    return spark._jsparkSession.sessionUUID()


def _lookup(
    spark: SparkSession,
    identity: tuple,
    token: object,
    build: Callable[[], T],
    live: Callable[[T], bool] = lambda _: True,
) -> T:
    app = spark.sparkContext.applicationId
    for stale in [k for k in _STORE if k[0] != app]:
        del _STORE[stale]
    key = (app, session_id(spark), identity)
    hit = _STORE.get(key)
    if hit is not None:
        if hit[0] == token and live(hit[1]):
            return hit[1]
        old = hit[1]
        if hit[0] != token and isinstance(old, DataFrame) and old.is_cached:
            try:  # superseded input version: drop its cached blocks too
                old.unpersist()
            except Exception:
                pass  # dead context/executors: eviction is best-effort
    value = build()
    _STORE[key] = (token, value)
    return value


def plan_memo(
    spark: SparkSession, identity: tuple, token: object, build: Callable[[], T]
) -> T:
    """``build()``'s lazy plan or scalar, memoized in the store."""
    return _lookup(spark, identity, token, build)


def frame_memo(
    spark: SparkSession,
    identity: tuple,
    token: object,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()`` persisted and populated, memoized in the store.
    ``clearCache()`` (bench reps, tests) unpersists behind the memo's
    back, so a hit whose storage level no longer uses memory rebuilds
    instead of silently recomputing the subtree on every consumer."""

    def persisted() -> DataFrame:
        df = build().persist()
        # populate NOW: concurrent AQE stages racing an unpopulated cache
        # each recompute the subtree (measured 7.4 s vs 1.9 s at sf0.1 on
        # the r14 six-branch mr_log_analyzer reduce)
        df.count()
        return df

    return _lookup(
        spark, identity, token, persisted, lambda df: df.storageLevel.useMemory
    )


def index_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    source_tables: tuple[str, ...],
    build: Callable[[], DataFrame],
    version: int = 1,
    delta_build: Callable[[list[str]], DataFrame] | None = None,
) -> DataFrame:
    """A PERSISTED INDEX TABLE: the durable artifact is a
    content-fingerprinted parquet table in the derived warehouse
    (``derived.derived_table`` — built once per source-corpus version,
    reloaded by every later session), and the session handle is a
    ``frame_memo`` of its read-back, tokened by the source fingerprint.
    At 100 TB the LSH band index / IVF cells / fingerprint hash tables
    ARE warehouse tables that ingest queries reload (VERDICT r13 #1):
    consumer plans show an InMemoryTableScan over a parquet scan of the
    stored index, and the expensive build appears in NO consumer plan
    (tests/test_catalog_plans.py::test_persisted_index_plan_contracts).

    ``name`` carries the build's hyperparameters. ``version`` is the
    BUILDER'S version, folded into the fingerprint: bump it whenever the
    build's semantics change (hash formula, lane count, decode rule) —
    source-byte fingerprinting alone would keep serving the old index.

    ``delta_build`` (optional) is the incremental-ingest path: when the
    corpus change since the last published version is purely additive,
    the stored index is APPENDED (old data files hardlinked + the delta
    builder's rows over just the new files) instead of rebuilt — see
    ``derived.derived_table``. Only valid for builders whose output rows
    are per-source-row independent."""
    from .derived import _source_fingerprint, derived_table

    return frame_memo(
        spark,
        ("index_table", name, os.path.abspath(sf_dir)),
        _source_fingerprint(sf_dir, source_tables, version),
        lambda: derived_table(
            spark,
            sf_dir,
            name,
            source_tables,
            build,
            version=version,
            delta_build=delta_build,
        ),
    )

"""Deduplication suite for LLM-data pipelines (north-star surface).

Five operators over `documents` / `embeddings`, every one with a DuckDB
oracle — including MinHash-LSH and SimHash, which are portable because all
hashing is md5-derived (the one hash both engines compute identically;
Spark's hash()/xxhash64 have no DuckDB twin):

- dedup_exact          : hash-groupBy on normalized text
- dedup_ngram_jaccard  : exact 3-gram Jaccard baseline via per-shingle
                         bucket expansion + pair counting (the all-pairs
                         join of V-SMART-Join / PAPERS.md), with an
                         in-plan hot-shingle guard that refuses past a
                         document-frequency bound instead of detonating
- dedup_minhash_lsh    : 8 minhash lanes carved from 2 md5 digests per
                         shingle (4x less hashing in the dominant stage),
                         4 bands x 2 rows, bucket expansion (grouped
                         (band, sig) doc lists emit in-bucket pairs
                         row-locally) for candidates, then exact Jaccard
                         verification of candidates only
- dedup_simhash        : 60-bit simhash over distinct tokens (bit votes via
                         a range(60) cross join), top-15-bit band blocking,
                         hamming<=8 pairs
- embedding_nn_cosine  : per-vector nearest neighbor within its IVF cell
                         (deterministic sub-blocks of the label, bounding
                         the pair join) by cosine; dot products summed in
                         exact DECIMAL so both engines produce
                         bit-identical cosines

Scale notes: every operator is explode -> join -> aggregate, which is how
these algorithms are deployed at 100 TB (pair generation never leaves the
shuffle). The known hazard is hot shingles/bands exploding the candidate
join; the standard mitigations (frequency-capping shingles, prefix
filtering) are applied where noted. Thresholds are tuned to the synthetic
corpus so results are non-trivial.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..tables import spread_scan, table

# --- shared normalized-token / shingle builders (Spark + SQL twins) -------

_NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

SHINGLES_DUCK = f"""
  SELECT DISTINCT doc_id, t.s AS shingle FROM (
    SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS toks FROM documents) d,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) t(s)
"""

TOKENS_DUCK = f"""
  SELECT DISTINCT doc_id, t.tk AS token FROM (
    SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS toks FROM documents) d,
    unnest(toks) t(tk)
  WHERE t.tk <> ''
"""


def ngram_expr(arr: str, n: int) -> str:
    """SQL expression: the n-gram array of token array column ``arr``
    (empty array when too short). THE single source of truth for shingle
    construction — dedup, corpus, and repetition operators all build
    their n-grams through this, so an edge-rule change lands everywhere."""
    concat = ", ' ', ".join(f"{arr}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN size({arr}) >= {n} THEN "
        f"transform(sequence(0, size({arr}) - {n}), i -> concat({concat})) "
        "ELSE array() END"
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[doc_id, shingle] — distinct 3-gram token shingles.

    Derived by exploding the persisted ``_shingle_arrays`` frame rather
    than re-tokenizing the corpus: collect_set already made each doc's
    shingles distinct, so the old standalone formulation's corpus-sized
    ``.distinct()`` exchange (plus a second tokenize pass) was pure
    duplication of work the memoized arrays frame has done — the explode
    here is row-local and exchange-free. Same rows, one fewer corpus
    shuffle for every consumer (exact-jaccard pair, capped jaccard,
    novelty df)."""
    return _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shs").alias("shingle")
    )


_ARRS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[doc_id, shs, sz] — each document's DISTINCT shingle set as
    an array column, built with exactly ONE corpus-sized exchange:
    explode → groupBy(doc_id).collect_set (map-side partial sets, so the
    shuffle carries per-doc set fragments, not raw shingle rows). The
    round-1 formulation shuffled shingles THREE times (distinct, minhash
    groupBy, verify re-group); a fully row-local variant
    (``array_distinct`` over the n-gram transform, zero exchanges) was
    measured 2-9x SLOWER end-to-end because it serializes all downstream
    md5 hashing into the scan stage's task granularity — one task per
    parquet split, a real ceiling whenever splits are coarse (and at any
    scale, hashing belongs AFTER a spread, not inside the scan). This
    shape hashes post-shuffle at full parallelism, and the aggregate
    leaves the frame hash-partitioned by doc_id, which the verify joins
    (``_pair_overlap``) then consume exchange-free. Docs too short to
    have a shingle are dropped (explode of an empty array), matching
    SHINGLES_DUCK.

    PERSISTED (and populated eagerly): the LSH pipelines consume this
    frame three times (candidate generation + both verify join sides),
    and branch-specific pruning de-canonicalizes the subtree so
    ReuseExchange never collapses them — measured 3 full corpus
    pipelines per run without the persist, 0 Reused* nodes. Locally the
    duplicates hide in idle cores (cold wall unchanged), but repeat
    invocations drop 2.2 s -> 1.1 s at sf0.1, and on a busy cluster the
    2 redundant corpus passes are the real 100 TB cost. The trade:
    MEMORY_AND_DISK storage of the per-doc arrays (compact vs raw text;
    Spark evicts LRU under pressure) held per distinct input for the
    session. Memoized per (session, sf dir) via
    ``memo.session_memo`` so the three LSH-family consumers share ONE
    materialization per sweep instead of accreting a persisted copy per
    query invocation.

    Round 7: also a PERSISTED DERIVED TABLE
    (``derived.derived_table``, content-fingerprinted against
    documents) — the tokenize + collect_set pipeline runs once per
    corpus version, cold invocations re-read 2.2 MB of parquet
    (1.21 s -> 0.28 s at sf0.1, SCALE.md round-7): the shingle-array
    table is the dedup family's on-disk index, the same artifact the
    streaming incremental dedup already persists per generation."""
    from ..derived import _source_fingerprint, derived_table
    from ..memo import session_memo

    def build_arrays() -> DataFrame:
        return _doc_shingle_arrays(table(spark, sf_dir, "documents"))

    def build() -> DataFrame:
        # shingle arrays are per-doc independent: an additive corpus
        # change appends the new docs' rows (derived.py delta path)
        return derived_table(
            spark,
            sf_dir,
            "doc_shingle_arrays",
            ("documents",),
            build_arrays,
            delta_build=lambda new_files: _doc_shingle_arrays(
                spark.read.parquet(*new_files)
            ),
        )

    return session_memo(
        _ARRS_MEMO,
        spark,
        sf_dir,
        build,
        fingerprint=_source_fingerprint(sf_dir, ("documents",)),
    )


def _doc_shingle_arrays(docs: DataFrame) -> DataFrame:
    """``_shingle_arrays`` parameterized over any (doc_id, text) frame —
    the table-bound memoized wrapper delegates here, and the streaming
    incremental dedup applies it to each arriving micro-batch."""
    return (
        docs.select(
            "doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
        )
        .select(
            "doc_id",
            F.explode(F.expr(ngram_expr("toks", 3))).alias("shingle"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
        .withColumn("sz", F.expr("size(shs)"))
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = f"""
SELECT md5(norm) AS content_key, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
FROM (SELECT doc_id, {_NORM_DUCK} AS norm FROM documents)
GROUP BY md5(norm)
"""


@query("dedup_exact", oracle=DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy with a deterministic survivor rule
    (min doc_id) — never dropDuplicates, whose survivor is partition-order
    dependent."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.expr(_NORM_SPARK)).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (explode/join/count formulation)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.2

NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {JACCARD_THRESHOLD}
"""


# Exact-baseline safety rail: the baseline is all-pairs by definition, so
# a Zipf-head shingle shared by k documents contributes k*(k-1)/2 pairs.
# Rather than silently detonate at corpus scale, the plan itself refuses
# (distributed raise_error inside the bucket task) when any shingle's
# document frequency exceeds this bound — use dedup_ngram_jaccard_capped
# (which *drops* hot buckets instead of failing) for corpora where the
# guard trips.
BASELINE_MAX_DOC_FREQ = 10_000


@query("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_doc_freq: int = BASELINE_MAX_DOC_FREQ
) -> DataFrame:
    """The declared EXACT all-pairs Jaccard baseline.

    Formulated as bucket expansion (groupBy shingle, pairs emitted
    row-locally from each bucket's doc list) rather than the sh-join-sh
    self-join: one corpus-sized exchange instead of two join probes, and
    the per-shingle bucket is where the guard lives — any shingle whose
    document frequency exceeds ``max_doc_freq`` raises inside its task
    (loud, distributed, before the quadratic expansion), because past
    that bound an exact baseline is a cartesian bomb and the capped/LSH
    variants are the scale path."""
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    buckets = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds0"))
        .select(
            F.expr(
                f"CASE WHEN size(ds0) <= {int(max_doc_freq)} THEN ds0 "
                "ELSE raise_error(concat('dedup_ngram_jaccard: shingle document"
                f" frequency ', size(ds0), ' exceeds the exact-baseline guard"
                f" {int(max_doc_freq)}; use dedup_ngram_jaccard_capped or raise"
                " max_doc_freq')) END"
            ).alias("ds")
        )
        .where(F.expr("size(ds) >= 2"))
    )
    # one pair instance per shared shingle -> count = |A ∩ B|, exactly the
    # oracle's join-count semantics
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ds) - 1),"
                    " i -> transform(slice(ds, i + 1, size(ds) - i),"
                    " d -> struct(element_at(ds, i) AS doc_a, d AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter") * 1.0 / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding (8 hashes, 4 bands x 2 rows)
# --------------------------------------------------------------------------

N_HASHES = 8

MINHASH_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
hashed AS (
  SELECT doc_id, r.i AS i,
    MIN(CAST(('0x' || substr(md5(CAST(r.i // 4 AS VARCHAR) || ':' || shingle), 1 + 8 * (r.i % 4), 8))::UBIGINT AS BIGINT)) AS mh
  FROM sh, range({N_HASHES}) r(i)
  GROUP BY doc_id, r.i
),
bands AS (
  SELECT doc_id, i // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
  FROM hashed GROUP BY doc_id, i // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (  -- candidate-restricted: only LSH candidate pairs are verified
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.n * 1.0 / (sa.sz + sb.sz - i.n), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
"""


def _lsh_candidates(arrs: DataFrame) -> DataFrame:
    """DataFrame[doc_a, doc_b] — MinHash band-collision candidate pairs,
    entirely in JVM expressions (md5/conv over array lambdas). Shared by
    the Jaccard and containment verifiers.

    Bucket expansion instead of a bands self-join: group each (band, sig)
    bucket's doc list and emit in-bucket pairs row-locally. One tiny
    exchange of (band, sig, doc_id) rows replaces a self-join that would
    rebuild the whole upstream pipeline for its second side, and a hot
    bucket of k docs expands to its k(k-1)/2 pairs inside one task
    instead of shuffling k x k join probe rows (production LSH also caps
    bucket size to bound the quadratic tail; the oracle doesn't, so no
    cap here — sig collisions at 4 bands x 2 rows keep buckets tiny)."""
    return _expand_buckets(_band_buckets(arrs))


def _band_buckets(arrs: DataFrame) -> DataFrame:
    """DataFrame[band, sig, ds] — each (band, signature) bucket's sorted
    doc list (only buckets with >= 2 members). This is the LSH INDEX a
    production pipeline persists between ingests; ``_lsh_candidates``
    expands every bucket, ``dedup_incremental_new_docs`` prunes to
    buckets touched by the new batch first.

    Each doc's 8 minhashes come from array_min(transform(shs, ...)) on
    the per-doc shingle-set ARRAY — no exchange at all. The earlier
    exploded formulation shuffled |shingles| rows of 8 longs into a
    groupBy just to take per-doc minima; array_min does that inside the
    row, so the first exchange in the whole LSH pipeline is the
    (band, sig) bucket groupBy, whose size is |docs| x n_bands,
    independent of shingle count. 8 lanes from TWO md5 calls per shingle
    (the standard multi-lane trick: one 128-bit digest yields four
    independent-enough 32-bit lanes) — the md5 is computed once per
    (shingle, j) inside the inner transform's bound variable, so the
    dominant hashing stage does 2 digests per shingle instead of 8.
    Lane i = hex window [1 + 8*(i%4), 8] of md5('<i//4>:' || shingle),
    which is exactly what the DuckDB oracles compute."""
    return (
        _doc_band_sigs(arrs)
        .groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.expr("size(ds) > 1"))
    )


_BAND_SIG_MEMO: dict[tuple[str, str], DataFrame] = {}


def band_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH BAND-SIGNATURE INDEX as a persisted warehouse table
    (``memo.index_table``, VERDICT r13 #1): DataFrame[doc_id, band, sig]
    — exactly ``_doc_band_sigs``' rows, but built once per corpus
    version (content-fingerprinted against documents.parquet), stored
    as parquet in the derived warehouse, and reloaded from disk by
    every later session. This is the standing index the incremental
    dedup's docstring promises production persists between ingests: the
    per-ingest query re-derives buckets from these 3-column rows (a
    doc x band sized groupBy) instead of re-tokenizing + re-hashing the
    corpus. The full-corpus ``dedup_minhash_lsh`` keeps computing sigs
    from the (also persisted) shingle arrays — it needs the arrays
    anyway for its verify stage, so the index table buys it nothing."""
    from ..memo import index_table

    def delta(new_files: list[str]) -> DataFrame:
        # band signatures are PER-DOC independent, so an additive corpus
        # change appends exactly the new docs' rows: read only the new
        # data files, shingle + hash just them (derived.py append path,
        # VERDICT r14 #6). The full build below stays the compaction.
        return _doc_band_sigs(_doc_shingle_arrays(spark.read.parquet(*new_files)))

    return index_table(
        _BAND_SIG_MEMO,
        spark,
        sf_dir,
        "lsh_band_index",
        ("documents",),
        lambda: _doc_band_sigs(_shingle_arrays(spark, sf_dir)),
        delta_build=delta,
    )


def _doc_band_sigs(arrs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, band, sig] — each doc's per-band LSH signatures,
    flat (one row per doc x band). This is the append-unit of the
    persisted index: incremental ingestion writes each batch's rows as a
    new generation and re-derives buckets from the union, so the bucket
    groupBy in ``_band_buckets`` is just this frame aggregated."""
    # selectExpr strings, not per-column F.transform(... python lambda):
    # each python-side lambda construction costs ~6 py4j roundtrips, and
    # the 8 lane-min columns were ~350 ms of DRIVER time per build at
    # sf0.1 (cProfile, r15); one parsed SQL projection is 1 roundtrip and
    # the identical analyzed expression (guide §5 — the driver should do
    # almost no work; re-proven vs the DuckDB oracle at all three SFs).
    lanes_sql = (
        "transform(shs, s -> flatten(transform("
        " array(md5(concat('0:', s)), md5(concat('1:', s))),"
        " h -> array("
        + ", ".join(
            f"cast(conv(substr(h, {1 + 8 * k}, 8), 16, 10) as bigint)"
            for k in range(4)
        )
        + ")))) AS lanes"
    )
    mins = arrs.selectExpr("doc_id", lanes_sql).selectExpr(
        "doc_id",
        *[
            f"array_min(transform(lanes, a -> element_at(a, {i + 1}))) AS mh{i}"
            for i in range(N_HASHES)
        ],
    )
    bands = mins.select(
        "doc_id",
        F.expr(
            "inline(array("
            + ", ".join(
                f"struct({b} AS band, concat(cast(mh{2 * b} as string), ',',"
                f" cast(mh{2 * b + 1} as string)) AS sig)"
                for b in range(N_HASHES // 2)
            )
            + "))"
        ),
    )
    return bands


def _expand_buckets(buckets: DataFrame) -> DataFrame:
    """Row-local in-bucket pair expansion -> distinct [doc_a, doc_b]."""
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ds) - 1),"
                    " i -> transform(slice(ds, i + 1, size(ds) - i),"
                    " d -> struct(element_at(ds, i) AS doc_a, d AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact verification, entirely in
    JVM expressions (md5/conv over array lambdas — no Python in the hot
    path). Candidates come from bucket expansion (same-signature doc
    lists emit their own pairs), so work is proportional to collisions,
    not to n^2 — and the verify stage is *candidate-restricted*:
    intersections come from joining the LSH candidate pairs to per-doc
    shingle arrays (``_pair_overlap``), never from an unrestricted
    shingle self-join (which would rebuild the all-pairs matrix LSH
    exists to avoid). One corpus-sized exchange exists per arrs consumer
    (the ``_shingle_arrays`` collect_set); every other exchange carries
    doc-id-sized rows."""
    arrs = _shingle_arrays(spark, sf_dir)
    inter = _pair_overlap(_lsh_candidates(arrs), arrs)
    jac = F.col("n") * 1.0 / (F.col("sz_a") + F.col("sz_b") - F.col("n"))
    return inter.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))


# --------------------------------------------------------------------------
# incremental dedup: today's ingest batch vs the standing corpus index
# --------------------------------------------------------------------------

# batch boundary: docs above 80% of max id are "today's ingest" (ids
# grow over time in a real ingest log); exact same split in the oracle
INC_SPLIT_NUM, INC_SPLIT_DEN = 8, 10

INCREMENTAL_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
t AS (SELECT CAST((MAX(doc_id) * {INC_SPLIT_NUM}) // {INC_SPLIT_DEN} AS BIGINT) AS t
      FROM documents),
hashed AS (
  SELECT doc_id, r.i AS i,
    MIN(CAST(('0x' || substr(md5(CAST(r.i // 4 AS VARCHAR) || ':' || shingle), 1 + 8 * (r.i % 4), 8))::UBIGINT AS BIGINT)) AS mh
  FROM sh, range({N_HASHES}) r(i)
  GROUP BY doc_id, r.i
),
bands AS (
  SELECT doc_id, i // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
  FROM hashed GROUP BY doc_id, i // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE b.doc_id > (SELECT t FROM t)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_b AS new_doc, i.doc_a AS matched_doc,
       ROUND(i.n * 1.0 / (sa.sz + sb.sz - i.n), 6) AS jaccard,
       CASE WHEN i.doc_a <= (SELECT t FROM t) THEN 'corpus' ELSE 'batch' END
         AS matched_in
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
"""


@query("dedup_incremental_new_docs", oracle=INCREMENTAL_ORACLE)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dedup: match TODAY'S ingest batch (docs
    above the id boundary) against the standing corpus WITHOUT re-pairing
    the corpus with itself — the at-scale pattern for a training corpus
    that grows daily. The band-signature index (``band_sig_index``) IS
    the persisted warehouse table reused between ingests; it prunes to buckets
    a new doc actually touches BEFORE any pair expansion, so per-ingest
    work is proportional to the batch's collisions, not the corpus's.
    Pairs keep only a new-doc b side (doc_a < doc_b covers both
    corpus-vs-new and earlier-new-vs-new); the verify stage is the same
    candidate-restricted array-intersect as ``dedup_minhash_lsh``. Emits
    (new_doc, matched_doc, jaccard, matched_in corpus|batch) — the drop
    list plus provenance an ingest audit wants.

    Scale: the threshold is a 1-row aggregate broadcast into the plan
    (never collected); bucket pruning drops every corpus-only bucket at
    the index scan, so a 100 TB corpus with a 0.1% daily ingest does
    ~0.1% of the full-dedup expansion work. The band signatures come
    from the PERSISTED index table (``band_sig_index`` — parquet in the
    derived warehouse, rebuilt only when the corpus version changes),
    so the per-ingest cost is a 3-column index scan + the batch's
    collisions — the corpus is never re-tokenized or re-hashed. The
    shingle arrays (also a persisted derived table) are read only by
    the verify stage's candidate-restricted joins."""
    return _incremental_matches(spark, sf_dir, band_sig_index(spark, sf_dir))


def _incremental_matches(
    spark: SparkSession, sf_dir: str, sig_index: DataFrame
) -> DataFrame:
    """The ingest-vs-corpus match pipeline of ``dedup_incremental_new_docs``
    parameterized over WHICH persisted band-signature index supplies the
    buckets — the appended-index twin feeds its two-generation demo index
    through the identical plan."""
    arrs = _shingle_arrays(spark, sf_dir)
    thr = arrs.agg(
        F.expr(f"(max(doc_id) * {INC_SPLIT_NUM}) div {INC_SPLIT_DEN}").alias("t")
    )
    buckets = (
        sig_index
        .groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.expr("size(ds) > 1"))
        .join(F.broadcast(thr))
        # index pruning: a bucket no new doc hashed into cannot name a
        # new-doc pair — drop it before the quadratic expansion
        .where(F.expr("exists(ds, d -> d > t)"))
    )
    cands = (
        _expand_buckets(buckets.select("band", "sig", "ds"))
        .join(F.broadcast(thr))
        .where(F.col("doc_b") > F.col("t"))
        .select("doc_a", "doc_b")
    )
    inter = _pair_overlap(cands, arrs)
    jac = F.col("n") * 1.0 / (F.col("sz_a") + F.col("sz_b") - F.col("n"))
    return (
        inter.join(F.broadcast(thr))
        .select(
            F.col("doc_b").alias("new_doc"),
            F.col("doc_a").alias("matched_doc"),
            F.round(jac, 6).alias("jaccard"),
            F.when(F.col("doc_a") <= F.col("t"), F.lit("corpus"))
            .otherwise(F.lit("batch"))
            .alias("matched_in"),
        )
    )


def _appended_demo_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TWO-GENERATION persisted band index proving the warehouse
    APPEND path end-to-end under the driver gate (VERDICT r14 #6): the
    corpus is re-laid as a fixture in two landings — the standing corpus
    (doc_id <= t, the same t as ``dedup_incremental_new_docs``) first,
    then the ingest batch as additional parquet files in the same
    directory. Generation 1 builds the index full; the batch landing is
    detected as purely additive, so generation 2 publishes as gen-1's
    data files HARDLINKED plus ``_doc_band_sigs`` over only the new
    files (``derived._try_append``). The manifest's generation chain is
    asserted fail-loud here: if the append path ever silently degrades
    to a full rebuild, this query errors rather than passing on
    identical rows. Since base + batch is exactly the documents table,
    the appended index must equal ``band_sig_index`` row-for-row — the
    oracle checks that through the full match pipeline.

    The fixture is built once per corpus fingerprint (idempotent marker;
    a concurrent builder is waited out), so repeat gate sweeps reuse
    both generations from disk. If the published generations were aged
    out by the per-name retention GC (3+ corpora alternating through
    one warehouse evicts the oldest corpus's pair) the append basis is
    gone and a naive rebuild would be generation 1 — the wrapper relays
    the fixture from scratch ONCE so both landings (and the appended
    publish) are re-created rather than failing the generation check."""
    try:
        return _appended_demo_index_once(spark, sf_dir)
    except _AppendDemoDegraded:
        import shutil

        from ..derived import _default_base, _source_fingerprint

        corpus_fp = _source_fingerprint(sf_dir, ("documents",))
        fixtures = os.path.join(
            os.path.dirname(_default_base().rstrip(os.sep)), "fixtures"
        )
        shutil.rmtree(
            os.path.join(fixtures, f"append_demo-{corpus_fp}"),
            ignore_errors=True,
        )
        return _appended_demo_index_once(spark, sf_dir)


class _AppendDemoDegraded(RuntimeError):
    """The appended-demo index came back without its generation-2
    append chain (basis GC'd / torn fixture): relay the fixture."""


def _appended_demo_index_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import time

    from ..derived import (
        _default_base,
        _latest_published,
        _source_fingerprint,
        derived_table,
    )

    corpus_fp = _source_fingerprint(sf_dir, ("documents",))
    fixtures = os.path.join(
        os.path.dirname(_default_base().rstrip(os.sep)), "fixtures"
    )
    fixture = os.path.join(fixtures, f"append_demo-{corpus_fp}")
    docdir = os.path.join(fixture, "documents.parquet")
    done = os.path.join(fixture, "_COMPLETE")
    name = "lsh_band_index_appdemo"

    def build_full() -> DataFrame:
        return _doc_band_sigs(
            _doc_shingle_arrays(spark.read.parquet(docdir))
        )

    def build_delta(new_files: list[str]) -> DataFrame:
        return _doc_band_sigs(
            _doc_shingle_arrays(spark.read.parquet(*new_files))
        )

    if not os.path.isfile(done):
        os.makedirs(fixtures, exist_ok=True)
        try:
            os.makedirs(fixture)  # atomic claim of the fixture build
        except FileExistsError:
            # another session is laying the fixture down (or crashed):
            # wait it out, then take over if it never completed
            deadline = time.time() + 120
            while not os.path.isfile(done) and time.time() < deadline:
                time.sleep(0.5)
            if not os.path.isfile(done):
                shutil.rmtree(fixture, ignore_errors=True)
                os.makedirs(fixture)
        if not os.path.isfile(done):
            docs = table(spark, sf_dir, "documents")
            t = docs.agg(
                F.expr(
                    f"(max(doc_id) * {INC_SPLIT_NUM}) div {INC_SPLIT_DEN}"
                ).alias("t")
            ).first()[0]
            # landing 1: the standing corpus
            docs.where(F.col("doc_id") <= t).write.mode("overwrite").parquet(
                docdir
            )
            derived_table(
                spark, fixture, name, ("documents",), build_full,
                delta_build=build_delta,
            )
            # landing 2: the ingest batch — NEW part files, old untouched
            docs.where(F.col("doc_id") > t).write.mode("append").parquet(
                docdir
            )
            with open(done, "w") as fh:
                fh.write("ok")
            # retention: old corpus versions' fixtures age out like
            # derived-table versions (same KEEP_VERSIONS policy)
            from ..derived import _gc_stale_versions

            _gc_stale_versions(
                fixtures, "append_demo", keep=os.path.basename(fixture)
            )
    idx = derived_table(
        spark, fixture, name, ("documents",), build_full,
        delta_build=build_delta,
    )
    # fail-loud: the current published version must be generation 2 via
    # the append chain, else this query is not testing what it claims
    fp_now = _source_fingerprint(fixture, ("documents",))
    latest = _latest_published(
        _default_base(), name, match={"sf_dir": os.path.abspath(fixture)}
    )
    if (
        latest is None
        or latest[1].get("fingerprint") != fp_now
        or latest[1].get("generations") != 2
        or not latest[1].get("appended_from")
    ):
        raise _AppendDemoDegraded(
            f"appended-index demo expected a generation-2 appended "
            f"publish, found: {None if latest is None else latest[1]}"
        )
    return idx


@query("dedup_appended_index", oracle=INCREMENTAL_ORACLE)
def dedup_appended_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_new_docs`` served from an index that was
    INCREMENTALLY APPENDED across two corpus generations instead of
    built in one shot (``_appended_demo_index`` — the derived
    warehouse's additive-ingest path, VERDICT r14 #6). Identical oracle,
    different index provenance: a bug in the append machinery (dropped
    delta rows, double-counted hardlinked generations, stale manifest
    chain) surfaces here as a value mismatch or a fail-loud generation
    check, never as silently passing rows.

    Scale: this is the nightly-ingest posture at 100 TB — per-ingest
    index cost is the BATCH's shingle+hash work plus hardlinks to the
    standing generation's files; the full rebuild remains available as
    compaction. Append-vs-rebuild cost is tabulated in SCALE.md r15."""
    return _incremental_matches(
        spark, sf_dir, _appended_demo_index(spark, sf_dir)
    )


def _pair_overlap(cand: DataFrame, arrs: DataFrame) -> DataFrame:
    """Exact overlap for CANDIDATE pairs only, via per-doc shingle ARRAYS:
    ``size(array_intersect(a, b))`` per pair, plus both exact set sizes.

    ``arrs`` is the row-local ``_shingle_arrays`` frame (doc_id, shs, sz).

    Returns DataFrame[doc_a, doc_b, n, sz_a, sz_b].

    Verify shapes measured on the round-2 near-dup-heavy sf0.1 corpus
    (1.27 M candidate pairs): exploded shingle join + groupBy = 15.7 s
    (builds a |cand| x shingles-per-doc intermediate); this array
    formulation = 6.0 s — the intersection runs inside one projection,
    the only joins are pair ⋈ per-doc-array on the doc keys. Join
    strategy is left to AQE (round 3): with runtime sizes it broadcasts
    whichever side is genuinely small (the candidate side on the
    regenerated corpus — measured marginally faster than a pinned
    sort-merge) and falls back to spillable sort-merge when both sides
    are large, which is the at-scale posture. A FORCED strategy loses
    both ways: force-broadcast OOMs when candidates are many, and the
    previously pinned ``merge`` hint paid two sorts even when candidates
    were a few hundred rows. NEVER an unrestricted ``sh ⋈ sh``
    self-join. Array cells are bounded by document length (shingles per
    doc), so row size stays sane at any corpus scale.
    """
    return (
        cand.join(
            arrs.selectExpr("doc_id AS doc_a", "shs AS sa", "sz AS sz_a"),
            "doc_a",
        )
        .join(
            arrs.selectExpr("doc_id AS doc_b", "shs AS sb", "sz AS sz_b"),
            "doc_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sa, sb)) AS n",
            "sz_a",
            "sz_b",
        )
    )


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the verified near-dup pair
# graph — the step that turns pairwise matches into canonical groups.
# --------------------------------------------------------------------------

CLUSTER_MIN_JACCARD = JACCARD_THRESHOLD

DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS ({SHINGLES_DUCK}),
hashed AS (
  SELECT doc_id, r.i AS i,
    MIN(CAST(('0x' || substr(md5(CAST(r.i // 4 AS VARCHAR) || ':' || shingle), 1 + 8 * (r.i % 4), 8))::UBIGINT AS BIGINT)) AS mh
  FROM sh, range({N_HASHES}) r(i)
  GROUP BY doc_id, r.i
),
bands AS (
  SELECT doc_id, i // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
  FROM hashed GROUP BY doc_id, i // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
dup_pairs AS (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE i.n * 1.0 / (sa.sz + sb.sz - i.n) >= {CLUSTER_MIN_JACCARD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM dup_pairs
),
reach(doc, seen) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.seen
),
clusters AS (SELECT doc, MIN(seen) AS cluster FROM reach GROUP BY doc)
SELECT c.doc AS doc_id, c.cluster,
       COUNT(*) OVER (PARTITION BY c.cluster) AS cluster_size
FROM clusters c
"""


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC '14 — public algorithm): every node u
    connects its strictly LARGER neighbors to m(u) = min(N(u) ∪ {u}).
    Output edges are oriented (a, b) with b < a always (m ≤ u < v)."""
    nbr = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = (
        nbr.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select("a", F.least("mb", "a").alias("m"))
    )
    return (
        nbr.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge high→low; every node u
    connects its ≤-neighbors AND itself to m(u) = min of those
    neighbors. Self-edges never emitted."""
    hl = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).where(F.col("a") != F.col("b"))
    mins = hl.groupBy("a").agg(F.min("b").alias("m"))
    return (
        hl.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(mins.select("a", F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 64
) -> tuple[DataFrame, int]:
    """Distributed connected components by ALTERNATING large-star /
    small-star rounds (Kiveris et al., SoCC '14): converges in O(log n)
    rounds regardless of component diameter — a 1024-hop chain closes in
    a handful of rounds where plain min-label propagation needs 1024
    (measured: tools/dedup_scale_probe.py --ops cc). Each round is two
    keyed aggregations + a distinct — shuffles keyed by node id only,
    no driver-side data, lineage truncated per round.

    ``nodes`` is DataFrame[doc_id] (covers isolated vertices); ``edges``
    is DataFrame[a, b] undirected pairs in any orientation. Fixpoint =
    the edge set is unchanged by a (large, small) round, which is
    exactly the star state: every non-min node holds one edge to its
    component minimum. The check is EXACT set equality (outputs are
    distinct sets: equal counts + empty difference), a scalar per round,
    never a data collect. Returns (labels[doc_id, cluster], rounds);
    cluster = min doc_id reachable, the same unique fixpoint the
    recursive-CTE oracle computes."""
    e = (
        edges.select("a", "b")
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        new_e = _cc_small_star(_cc_large_star(e)).localCheckpoint()
        n_new = new_e.count()
        if n_new == n_edges and new_e.exceptAll(e).isEmpty():
            e = new_e
            break
        e, n_edges = new_e, n_new
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    labels = (
        nodes.select("doc_id")
        .join(
            e.select(F.col("a").alias("doc_id"), F.col("b").alias("root")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("root", "doc_id").alias("cluster")
        )
    )
    return labels, rounds


@query("dedup_clusters", oracle=DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over LSH-verified near-dup pairs (jaccard >=
    threshold) — the canonical-group assignment a dedup pipeline feeds
    the survivor selector.

    Spark 4 has recursive CTEs but only with UNION ALL recursion
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE as of 4.1), which cannot
    terminate on the cyclic reachability expansion connected components
    needs — so the fixpoint is a driver-coordinated loop of
    ``connected_components`` star rounds: O(log n) rounds independent of
    cluster diameter (the r12 label-propagation loop was O(diameter)).
    The fixpoint (min doc_id reachable) is unique, so the result is
    deterministic and matches the oracle's recursive CTE."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("jaccard") >= CLUSTER_MIN_JACCARD
    )
    labels, _ = connected_components(
        docs, pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    w = Window.partitionBy("cluster")
    return labels.select(
        "doc_id", "cluster", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


# --------------------------------------------------------------------------
# SimHash (60-bit, md5-derived token hashes, banded hamming pairs)
# --------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BAND_SHIFT = 45  # block on top 15 bits
HAMMING_MAX = 8

SIMHASH_ORACLE = f"""
WITH tok AS ({TOKENS_DUCK}),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id, r.b AS b,
         SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range({SIMHASH_BITS}) r(b)
  GROUP BY doc_id, r.b
),
sim AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sh60
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh60, b.sh60)) AS INTEGER) AS hamming
FROM sim a JOIN sim b
  ON (a.sh60 >> {SIMHASH_BAND_SHIFT}) = (b.sh60 >> {SIMHASH_BAND_SHIFT})
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh60, b.sh60)) <= {HAMMING_MAX}
"""


@query("dedup_simhash", oracle=SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    th = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    # all 60 bit votes as COLUMNS of one aggregate (same columnization as
    # the minhash rewrite): the exchange carries one 60-long row per doc
    # instead of 60 exploded (doc, bit) rows per token, and map-side
    # partial aggregation collapses each partition's tokens before the
    # shuffle — the crossJoin-with-range formulation materialized
    # 60x|tokens| rows first. sf0.1: ~7.7 s -> ~1.6 s warm.
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sh60_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) << {b}"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    sim = votes.select("doc_id", F.expr(sh60_expr).alias("sh60"))
    # bucket expansion on the 15-bit block (same shape as the LSH candidate
    # stage): group each block's (doc_id, sh60) structs and emit in-bucket
    # pairs row-locally. A block self-join would rebuild the whole
    # tokens→votes pipeline for its second side and shuffle k x k probe
    # rows on hot blocks; this shuffles one (blk, doc_id, sh60) row per doc
    # and expands k(k-1)/2 pairs inside the bucket's task. array_sort on
    # the structs orders by doc_id, so doc_a < doc_b by construction, and
    # each pair appears in exactly one bucket (a doc has one block).
    buckets = (
        sim.groupBy(F.expr(f"sh60 >> {SIMHASH_BAND_SHIFT}").alias("blk"))
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh60"))).alias("ds"))
        .where(F.expr("size(ds) > 1"))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ds) - 1),"
                    " i -> transform(slice(ds, i + 1, size(ds) - i),"
                    " d -> struct(element_at(ds, i) AS a, d AS b))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.expr("bit_count(p.a.sh60 ^ p.b.sh60)").cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
    )


# --------------------------------------------------------------------------
# Embedding near-dup: nearest neighbor within label block, exact-decimal
# cosine so both engines agree bit-for-bit.
# --------------------------------------------------------------------------

N_NN_CELLS = 8  # IVF sub-cells per label block

# Shared oracle CTE prefix: per-dimension explode, deterministic IVF cell
# assignment (smallest-vec_id seeds per label, exact-decimal argmin), and
# exact-decimal norms. Consumed by EMB_NN_ORACLE and SEMDEDUP_ORACLE.
_CELL_CTES = f"""
WITH x AS (
  SELECT vec_id, label, r.i AS i, CAST(embedding[r.i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) r(i)
),
seed_ids AS (
  SELECT vec_id AS seed_id, label FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings) WHERE rn <= {N_NN_CELLS}
),
seeds AS (
  SELECT s.seed_id, s.label, x.i, x.v AS sv
  FROM seed_ids s JOIN x ON x.vec_id = s.seed_id
),
d2 AS (
  SELECT x.vec_id, s.seed_id,
         SUM(CAST((x.v - s.sv) * (x.v - s.sv) AS DECIMAL(28,18))) AS d2
  FROM x JOIN seeds s ON x.label = s.label AND x.i = s.i
  GROUP BY 1, 2
),
cell AS (
  SELECT vec_id, seed_id AS cell FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn
    FROM d2) WHERE rn = 1
),
xc AS (
  SELECT x.vec_id, x.i, x.v, c.cell FROM x JOIN cell c ON x.vec_id = c.vec_id
),
norms AS (
  SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,18))) AS n2 FROM x GROUP BY vec_id
)
"""

EMB_NN_ORACLE = f"""
{_CELL_CTES},
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         SUM(CAST(a.v * b.v AS DECIMAL(28,18))) AS dot
  FROM xc a JOIN xc b ON a.i = b.i AND a.cell = b.cell AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
),
cos AS (
  SELECT va, vb,
         CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
  FROM dots JOIN norms na ON va = na.vec_id JOIN norms nb ON vb = nb.vec_id
)
SELECT va AS vec_id, vb AS nn_vec_id, ROUND(c, 6) AS cosine
FROM (SELECT va, vb, c, row_number() OVER (PARTITION BY va ORDER BY c DESC, vb) AS rn FROM cos)
WHERE rn = 1
"""


def _exploded_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "vf")
    ).select("vec_id", "label", "i", F.col("vf").cast("double").alias("v"))


# Exact-decimal inner products over ARRAY columns: zip_with multiplies in
# double (exact for float inputs), casts each term to DECIMAL(28,18), and
# aggregate() adds them sequentially in DECIMAL(38,18) — exact, so the
# result equals the oracle's explode+SUM formulation REGARDLESS of
# summation order. This keeps the whole NN pipeline free of per-dimension
# explodes and their groupBy shuffles (measured 3-4x on the sf0.1 block).
# Accumulator is DECIMAL(30,18) with an explicit re-cast in the merge
# lambda: Spark's decimal ADD widens precision ((30,18)+(28,18) -> (31,18))
# and the re-cast keeps the acc type stable WITHOUT losing scale — at
# precision 38 the add would trim to scale 17 and break exactness. The
# 12 integer digits are ample for any realistic dimension count.
def _dec_dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (p, q) -> "
        "CAST(CAST(p AS DOUBLE) * CAST(q AS DOUBLE) AS DECIMAL(28,18))), "
        "CAST(0 AS DECIMAL(30,18)), (acc, e) -> CAST(acc + e AS DECIMAL(30,18)))"
    )


def _dec_sqdist_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (p, q) -> "
        "CAST((CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) * "
        "(CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) AS DECIMAL(28,18))), "
        "CAST(0 AS DECIMAL(30,18)), (acc, e) -> CAST(acc + e AS DECIMAL(30,18)))"
    )


_CELLS_MEMO: dict[tuple[str, str], DataFrame] = {}


def nn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[vec_id, cell] — deterministic IVF-style sub-cell per
    vector: seeds are the ``N_NN_CELLS`` smallest vec_ids per label, every
    vector is assigned to its nearest seed by EXACT decimal squared
    distance (ties to the smaller seed id), so both engines compute the
    identical partition. At 100 TB the cell count scales with block size,
    bounding the within-cell pair join that a raw per-label block leaves
    quadratic. Distances are array expressions (``_dec_sqdist_expr``) —
    one broadcast join row per (vector, seed), no per-dimension explode.

    A persisted WAREHOUSE TABLE (``memo.index_table``, VERDICT r13 #1):
    the cell assignment is the IVF index a production deployment stores
    next to the embedding corpus — built once per corpus version
    (content-fingerprinted against embeddings.parquet), reloaded from
    parquet by every later session, and session-memoized so both
    embedding_nn_cosine and semantic_dedup consume ONE materialization
    per sweep. Consumer plans scan the stored table (two scalars per
    vector); the seed + decimal-distance + argmin build appears in no
    query plan after the first build."""
    from ..memo import index_table

    return index_table(
        _CELLS_MEMO,
        spark,
        sf_dir,
        "ann_ivf_cells",
        ("embeddings",),
        lambda: _build_nn_cells(spark, sf_dir),
    )


def _build_nn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    wseed = Window.partitionBy("label").orderBy("vec_id")
    seeds = (
        emb.select("vec_id", "label", "embedding")
        .withColumn("rn", F.row_number().over(wseed))
        .where(F.col("rn") <= N_NN_CELLS)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("label").alias("s_label"),
            F.col("embedding").alias("seed_emb"),
        )
    )
    d2 = emb.join(
        F.broadcast(seeds), emb["label"] == seeds["s_label"]
    ).select(
        "vec_id",
        "seed_id",
        F.expr(_dec_sqdist_expr("embedding", "seed_emb")).alias("d2"),
    )
    # argmin via min_by over the UNIQUE (d2, seed_id) struct — partial
    # aggregation before the shuffle, where a row_number window would
    # shuffle every (vector, seed) row into per-vector partitions first.
    # Uniqueness of the ordering struct makes the result deterministic and
    # identical to the oracle's row_number-over-(d2, seed_id) formulation.
    #
    # PERSISTED + eager (by session_memo): both sides of the within-cell
    # pair self-join consume this frame, and without the persist each
    # side re-runs the seeds + decimal-distance + argmin pipeline (no
    # ReuseExchange across the differently-pruned copies). The cached
    # frame is two scalars per vector — near-free to hold.
    return d2.groupBy("vec_id").agg(
        F.expr("min_by(seed_id, struct(d2, seed_id))").alias("cell")
    )


@query("embedding_nn_cosine", oracle=EMB_NN_ORACLE)
def embedding_nn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked nearest neighbor: deterministic IVF cell assignment
    (``nn_cells``) -> within-cell pair join on the cell key -> exact
    decimal dot product as an ARRAY expression per pair (no per-dimension
    explode, no aggregation shuffle). The cell bound keeps the pair join
    linear in cell size — a raw per-label block is quadratic and a
    million-vector label would be a cartesian bomb. NN is searched within
    the vector's cell (IVF semantics); the oracle computes the identical
    partition, so the result is exact w.r.t. its declared semantics."""
    emb = table(spark, sf_dir, "embeddings")
    cells = nn_cells(spark, sf_dir)
    ec = emb.join(cells, "vec_id").select(
        "vec_id",
        "cell",
        "embedding",
        F.expr(_dec_dot_expr("embedding", "embedding")).alias("n2"),
    )
    # r15 (guide §2.5): the cell frame is bytes-small, so AQE coalesces
    # the self-join to ONE partition and the per-pair interpreted decimal
    # dots run single-task. An explicit cell-keyed repartition (which AQE
    # respects) both feeds the join exchange-free on both sides and pins
    # the join stage's parallelism; scales with session cores. Interleaved
    # A/B on the semantic_dedup sibling: 2.8 s -> 1.05 s at sf0.1.
    ec = ec.repartition(spark.sparkContext.defaultParallelism, "cell")
    a = ec.alias("a")
    b = ec.alias("b")
    # cosine is symmetric: evaluate the (exact-decimal) dot lambda once per
    # unordered pair, then mirror — halves the dominant per-pair cost
    half = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.expr(_dec_dot_expr("a.embedding", "b.embedding")).alias("dot"),
            F.col("a.n2").alias("na"),
            F.col("b.n2").alias("nb"),
        )
        .select(
            "va",
            "vb",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("c"),
        )
    )
    # explode (not union-with-self) so the pair subtree is evaluated ONCE:
    # each unordered pair emits its two directed rows from one computation
    cos = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("va").alias("va"), F.col("vb").alias("vb"), F.col("c")
                ),
                F.struct(
                    F.col("vb").alias("va"), F.col("va").alias("vb"), F.col("c")
                ),
            )
        ).alias("p")
    ).select("p.va", "p.vb", "p.c")
    w = Window.partitionBy("va").orderBy(F.desc("c"), F.asc("vb"))
    return (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("va").alias("vec_id"),
            F.col("vb").alias("nn_vec_id"),
            F.round("c", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, public): prune a vector when
# a same-cell vector with a SMALLER id is cosine-similar above epsilon.
# The deterministic tie-break (keep the smallest id) is what makes the
# survivor set — not just the duplicate-pair set — oracle-checkable.
# --------------------------------------------------------------------------

SEM_EPS = 0.25  # calibrated to the synthetic corpus (random-ish vectors:
# max within-cell cosine ~0.41, 110 within-cell pairs >= 0.25 at sf0.01)
# so the prune set is non-trivial; a real corpus runs ~0.95+

SEMDEDUP_ORACLE = f"""
{_CELL_CTES},
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         SUM(CAST(a.v * b.v AS DECIMAL(28,18))) AS dot
  FROM xc a JOIN xc b ON a.i = b.i AND a.cell = b.cell AND a.vec_id > b.vec_id
  GROUP BY 1, 2
),
pruned AS (
  SELECT DISTINCT va AS vec_id
  FROM dots JOIN norms na ON va = na.vec_id JOIN norms nb ON vb = nb.vec_id
  WHERE ROUND(CAST(dot AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
              6) >= {SEM_EPS}
)
SELECT c.vec_id, c.cell,
       CAST(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS pruned
FROM cell c LEFT JOIN pruned p ON c.vec_id = p.vec_id
"""


@query("semantic_dedup", oracle=SEMDEDUP_ORACLE)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding table: deterministic IVF cells
    (``nn_cells`` — the same cells the NN operator uses) bound the pair
    join, then a vector is PRUNED when any same-cell vector with a
    smaller vec_id has cosine >= ``SEM_EPS`` (exact-decimal dot/norms,
    rounded to 6 places before the threshold compare so both engines
    make the identical keep/prune decision). Output is the full corpus
    with its keep/prune verdict — the artifact a curation pipeline
    writes back.

    Scale: identical shape to ``embedding_nn_cosine`` — work is bounded
    by cell size, never label-block or corpus size; the prune-set
    semi-join is doc-id-sized. At 100 TB the cell count scales with the
    corpus (cells come from k-means centroids instead of smallest-id
    seeds; the plan shape is unchanged). The smaller-id-wins rule is the
    paper's 'keep one representative per duplicate neighborhood' made
    deterministic, so reruns and the oracle agree exactly."""
    emb = table(spark, sf_dir, "embeddings")
    cells = nn_cells(spark, sf_dir)
    ec = emb.join(cells, "vec_id").select(
        "vec_id",
        "cell",
        "embedding",
        F.expr(_dec_dot_expr("embedding", "embedding")).alias("n2"),
    )
    # r15: same AQE-coalesce fix as embedding_nn_cosine (see its comment);
    # measured 2.8 s -> 1.05 s at sf0.1, identical verdicts
    ec = ec.repartition(spark.sparkContext.defaultParallelism, "cell")
    a = ec.alias("a")
    b = ec.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(
                F.expr(_dec_dot_expr("a.embedding", "b.embedding")).cast(
                    "double"
                )
                / (
                    F.sqrt(F.col("a.n2").cast("double"))
                    * F.sqrt(F.col("b.n2").cast("double"))
                ),
                6,
            ).alias("c"),
        )
        .where(F.col("c") >= SEM_EPS)
        .select("vec_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return ec.join(pruned, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("hit"), F.lit(0)).cast("int").alias("pruned"),
    )


# --------------------------------------------------------------------------
# Frequency-capped Jaccard: the 100 TB variant of the all-pairs join.
# Shingles occurring in more than MAX_DOC_FREQ docs are dropped from PAIR
# GENERATION (hot-shingle cap — the prefix-filtering idea: ubiquitous
# shingles generate O(n^2) candidate pairs while carrying no discriminative
# signal) but still count toward set sizes and intersections for the
# surviving candidate pairs, so the reported jaccard stays exact.
# --------------------------------------------------------------------------

MAX_DOC_FREQ = 50

CAPPED_JACCARD_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (  -- candidate-restricted: only capped candidate pairs verified,
            -- but intersections/sizes use the FULL shingle set (exact jaccard)
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.n * 1.0 / (sa.sz + sb.sz - i.n), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.n * 1.0 / (sa.sz + sb.sz - i.n) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard_capped", oracle=CAPPED_JACCARD_ORACLE)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 re-plan: count, don't re-intersect. The bucket expansion
    already emits one (doc_a, doc_b) instance per SHARED NON-HOT
    shingle, so ``groupBy(pair).count()`` IS the non-hot intersection —
    the r7 shape threw that information away (``.distinct()``) and then
    re-derived the full intersection by joining both docs' complete
    shingle arrays and intersecting per pair, the dominant cost on a
    near-dup-heavy corpus (1.13 M candidate pairs x full-array
    ``array_intersect`` at sf0.1; measured 6.6 s -> the count
    formulation drops the verify to a pair-count exchange). The hot
    (df > cap) contribution that pair generation deliberately skips is
    restored by intersecting per-doc HOT-ONLY shingle arrays — bounded
    by the Zipf head a doc touches, tiny by construction (zero rows on
    this corpus; the branch exists for corpora where the cap bites), so
    the reported jaccard stays EXACT over the full shingle sets.

    Bucket expansion per shingle keeps the cap as a BUCKET SIZE filter:
    the grouped doc-list length IS the document frequency, so dropping
    the Zipf head is `size(ds) <= cap` — no separate df window — and no
    bucket can expand past cap*(cap-1)/2 pairs inside its task."""
    sh = _shingles(spark, sf_dir)
    grouped = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    mid = grouped.where(F.expr(f"size(ds) BETWEEN 2 AND {MAX_DOC_FREQ}"))
    # shared non-hot shingle count per pair, straight from the expansion
    n0 = (
        mid.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ds) - 1),"
                    " i -> transform(slice(ds, i + 1, size(ds) - i),"
                    " d -> struct(element_at(ds, i) AS doc_a, d AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n0"))
    )
    # hot correction: each doc's array of HOT shingles (the Zipf head)
    hot = (
        grouped.where(F.expr(f"size(ds) > {MAX_DOC_FREQ}"))
        .select("shingle", F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("hs"))
    )
    sizes = _shingle_arrays(spark, sf_dir).select("doc_id", "sz")
    inter = (
        n0.join(
            hot.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")),
            "doc_a",
            "left",
        )
        .join(
            hot.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n0")
                + F.expr(
                    "size(array_intersect(coalesce(ha, array()),"
                    " coalesce(hb, array())))"
                )
            ).alias("n"),
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
    )
    jac = F.col("n") * 1.0 / (F.col("sz_a") + F.col("sz_b") - F.col("n"))
    return (
        inter.where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Containment (partial-duplicate / quote detection): |A ∩ B| / min(|A|,|B|)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8

CONTAINMENT_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
hashed AS (
  SELECT doc_id, r.i AS i,
    MIN(CAST(('0x' || substr(md5(CAST(r.i // 4 AS VARCHAR) || ':' || shingle), 1 + 8 * (r.i % 4), 8))::UBIGINT AS BIGINT)) AS mh
  FROM sh, range({N_HASHES}) r(i)
  GROUP BY doc_id, r.i
),
bands AS (
  SELECT doc_id, i // 2 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
  FROM hashed GROUP BY doc_id, i // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.n * 1.0 / LEAST(sa.sz, sb.sz), 6) AS containment
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.n * 1.0 / LEAST(sa.sz, sb.sz) >= {CONTAINMENT_THRESHOLD}
"""


@query("dedup_containment", oracle=CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate detection: containment of the smaller shingle set
    in the larger (|A∩B| / min(|A|,|B|)) over LSH candidate pairs, same
    candidate generation + array-overlap verify as dedup_minhash_lsh.
    Catches quote/subset relationships symmetric Jaccard under-scores.

    Honesty note on recall at scale: Jaccard-tuned LSH bands under-recall
    pairs with very unequal sizes (a tiny doc fully contained in a huge
    one has low Jaccard, so few band collisions). A production
    containment search bands the SMALLER side's shingles only (or uses
    size-stratified bands); the oracle here computes the identical
    candidate set, so the gate checks the verify math, not recall."""
    arrs = _shingle_arrays(spark, sf_dir)
    inter = _pair_overlap(_lsh_candidates(arrs), arrs)
    cont = F.col("n") * 1.0 / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.where(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


# --------------------------------------------------------------------------
# Duplicated-span detection (substring-level dedup, Lee et al. 2021 style)
# --------------------------------------------------------------------------

SPAN_K = 5  # tokens per fingerprint gram
SPAN_MIN_GRAMS = 3  # spans shorter than this are fingerprint noise

DUP_SPANS_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split({{norm}}, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, i.i AS pos,
         md5(toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] || ' ' ||
             toks[i.i+3] || ' ' || toks[i.i+4]) AS gk
  FROM t, unnest(range(1, greatest(len(toks) - {SPAN_K} + 2, 1))) i(i)
),
df AS (SELECT gk, COUNT(DISTINCT doc_id) AS ddf FROM g GROUP BY gk),
dup AS (SELECT g.doc_id, g.pos FROM g JOIN df ON df.gk = g.gk WHERE df.ddf >= 2),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {SPAN_K} THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS span_id
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {SPAN_K} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {SPAN_K} AS BIGINT) AS span_tokens,
       COUNT(*) AS n_grams
FROM isl GROUP BY doc_id, span_id HAVING COUNT(*) >= {SPAN_MIN_GRAMS}
"""




@query("dup_span_detection", oracle=DUP_SPANS_ORACLE.format(norm=_NORM_DUCK))
def dup_span_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-LEVEL dedup — the span analogue of 'Deduplicating
    Training Data Makes Language Models Better' (Lee et al., 2021,
    public): instead of whole-document verdicts, find the exact token
    ranges that are duplicated ACROSS documents. Positions carrying a
    {SPAN_K}-token fingerprint gram whose document frequency is >= 2
    merge into maximal spans by gaps-and-islands (a break when
    consecutive duplicated positions are more than one gram length
    apart); spans with fewer than {SPAN_MIN_GRAMS} grams are dropped as
    fingerprint noise. The at-scale substitute for a suffix array: one
    gram-keyed exchange (the df count), one doc-keyed window pass, all
    integer arithmetic — no quadratic pair join anywhere, cost linear in
    corpus token count. Emits (doc_id, span_start, span_end,
    span_tokens, n_grams) in 1-based token positions over the
    normalized token stream."""
    return dup_spans_from_docs(table(spark, sf_dir, "documents"))


def dup_spans_from_docs(docs: DataFrame) -> DataFrame:
    """Core span computation over a ``docs[doc_id, text]`` frame (split
    out so tests can drive handcrafted corpora); semantics in
    ``dup_span_detection``."""
    toks = docs.select(
        "doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
    )
    # grams through ngram_expr — the single source of truth for n-gram
    # construction (posexplode is 0-based; positions here are 1-based).
    # PERSISTED + eager like _shingle_arrays: both sides of the df join
    # below consume this frame, and unpersisted the corpus was scanned,
    # tokenized and md5-hashed twice per run (two Scan parquet nodes in
    # the PLANS.md dump).
    grams = (
        toks.select(
            "doc_id",
            F.posexplode(F.expr(ngram_expr("toks", SPAN_K))).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(F.col("gram")).alias("gk"),
        )
        .persist()
    )
    grams.count()

    # document frequency via distinct -> count -> join-back, NOT a
    # collect_set window: a boilerplate gram shared by millions of docs
    # would materialize its whole doc list per row in the window form
    # (the hot-shingle hazard class); this shape's shuffles carry only
    # (gk, doc_id) pairs and a count, and AQE picks the join strategy
    dup_keys = (
        grams.select("gk", "doc_id")
        .distinct()
        .groupBy("gk")
        .agg(F.count(F.lit(1)).alias("ddf"))
        .where(F.col("ddf") >= 2)
        .select("gk")
    )
    dup = grams.join(dup_keys, "gk").select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "brk",
        F.when(
            F.col("pos") - F.lag("pos").over(wdoc) > SPAN_K, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    isl = flagged.withColumn(
        "span_id",
        F.sum("brk").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + SPAN_K - 1).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + SPAN_K).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .where(F.col("n_grams") >= SPAN_MIN_GRAMS)
        .drop("span_id")
    )


if dup_span_detection.__doc__:  # absent under python -OO
    dup_span_detection.__doc__ = dup_span_detection.__doc__.format(
        SPAN_K=SPAN_K, SPAN_MIN_GRAMS=SPAN_MIN_GRAMS
    )


# --------------------------------------------------------------------------
# LSH self-audit: banding recall against the exact all-pairs baseline
# --------------------------------------------------------------------------

LSH_RECALL_ORACLE = f"""
WITH truth AS ({NGRAM_JACCARD_ORACLE}),
lsh AS ({MINHASH_ORACLE})
SELECT FLOOR(t.jaccard * 10) / 10 AS jaccard_band,
       COUNT(*) AS n_true,
       CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_caught,
       ROUND(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS recall
FROM truth t
LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
GROUP BY 1
"""


@query("lsh_recall_audit", oracle=LSH_RECALL_ORACLE)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH S-curve, measured: per 0.1-wide Jaccard band,
    what fraction of the TRUE >= threshold pairs (the exact all-pairs
    baseline) did the banded index surface? Low bands are supposed to
    leak (that is the point of banding — P(candidate) = 1-(1-s^r)^b);
    high bands must not. Composes the two registered operators, so the
    audit measures the code that actually deduplicates, not a
    reimplementation that could drift. LSH verifies candidates against
    the same shingle sets, so every lsh pair AT OR ABOVE the threshold
    is in truth by construction (the lsh output also reports
    sub-threshold candidate pairs, which the join simply never matches)
    and a plain left join suffices.

    Scale: the exact baseline is the bounded side (all-pairs by
    definition, with the in-plan max-doc-freq guard); at 100 TB you run
    this audit on a hash-sampled stratum (corpus_sample_hash) where
    exact all-pairs is affordable, exactly how production dedup recall
    is estimated. Banding arithmetic (floor(j*10)/10) is IEEE-identical
    on both engines because both start from the same round(j, 6)
    double."""
    truth = dedup_ngram_jaccard(spark, sf_dir).alias("t")
    lsh = dedup_minhash_lsh(spark, sf_dir).alias("l")
    joined = truth.join(
        lsh,
        (F.col("t.doc_a") == F.col("l.doc_a"))
        & (F.col("t.doc_b") == F.col("l.doc_b")),
        "left",
    )
    caught = F.when(F.col("l.doc_a").isNotNull(), 1).otherwise(0)
    return (
        joined.groupBy(
            (F.floor(F.col("t.jaccard") * 10) / 10).alias("jaccard_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(caught).cast("long").alias("n_caught"),
            F.round(F.sum(caught) * 1.0 / F.count(F.lit(1)), 6).alias(
                "recall"
            ),
        )
    )


# --------------------------------------------------------------------------
# Quality-aware survivor selection over near-dup clusters
# --------------------------------------------------------------------------

def _survivor_oracle() -> str:
    # deferred import: textstats does not import dedup, so this is the
    # acyclic direction, but the oracle string needs its QUALITY_ORACLE
    from .textstats import QUALITY_ORACLE

    return f"""
SELECT c.doc_id, c.cluster, c.cluster_size, q.quality_score,
       row_number() OVER (PARTITION BY c.cluster
                          ORDER BY q.quality_score DESC, c.doc_id) = 1
         AS is_survivor
FROM ({DEDUP_CLUSTERS_ORACLE}) c
JOIN ({QUALITY_ORACLE}) q USING (doc_id)
"""


@query("dedup_survivor_quality", oracle=_survivor_oracle())
def dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the step a production dedup
    pipeline (Dolma / FineWeb style) runs after clustering: within each
    near-dup cluster KEEP the highest-quality member, not the arbitrary
    lowest doc_id. Composes the two registered operators it depends on
    (``dedup_clusters`` for the canonical group assignment,
    ``textstats.text_quality_scores`` for the ranking signal), so the
    audit trail covers the code that actually runs.

    Plan shape: the cluster labels (corpus-keyed) join the quality scores
    on doc_id — both sides are already doc_id-keyed aggregates, so AQE
    plans a single co-partitioned sort-merge join at scale — then one
    window per cluster picks the survivor. Clusters are near-dup blobs
    (bounded fan-in), so the window partitions are tiny; singleton docs
    are their own cluster and survive trivially. Determinism: ranking is
    on the ROUNDED quality score (both engines emit round(x, 6)) with a
    doc_id tiebreak, so the survivor is unique cross-engine.
    """
    from .textstats import text_quality_scores

    clusters = dedup_clusters(spark, sf_dir)
    quality = text_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return clusters.join(quality, "doc_id").select(
        "doc_id",
        "cluster",
        "cluster_size",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


# --------------------------------------------------------------------------
# Fuzzy dedup via blocked edit distance (record-linkage style): prefix
# blocking bounds the pair join, a provable length-gap prune skips the
# quadratic levenshtein for pairs that cannot reach the threshold, and the
# surviving pairs report exact edit distance + normalized similarity.
# --------------------------------------------------------------------------

LEV_PREFIX = 24  # normalized-prefix blocking key length
LEV_SIM_MIN = 0.80  # keep pairs at or above this normalized similarity
# The length-gap prune `gap <= mx * (1 - LEV_SIM_MIN)` is evaluated in
# EXACT INTEGER arithmetic on both engines: 1 - 0.8 = 1/5 exactly, so the
# test is `gap * LEV_GAP_DEN <= mx * LEV_GAP_NUM`. A float form would
# compute (1.0 - 0.8) = 0.19999999999999996 in Python but 0.2 in DuckDB
# decimals and prune a pair sitting exactly on the boundary (an 80-char
# doc and its 100-char pure-append extension: sim exactly 0.80).
LEV_GAP_NUM = 1  # numerator of (1 - LEV_SIM_MIN) as an exact rational
LEV_GAP_DEN = 5  # denominator of (1 - LEV_SIM_MIN)

FUZZY_LEV_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.t AS ta, b.t AS tb,
         greatest(length(a.t), length(b.t)) AS mx
  FROM n a JOIN n b
    ON substr(a.t, 1, {LEV_PREFIX}) = substr(b.t, 1, {LEV_PREFIX})
   AND a.doc_id < b.doc_id
   AND abs(length(a.t) - length(b.t)) * {LEV_GAP_DEN}
       <= greatest(length(a.t), length(b.t)) * {LEV_GAP_NUM}
)
SELECT doc_a, doc_b,
       CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
       ROUND(1.0 - levenshtein(ta, tb) * 1.0 / mx, 6) AS edit_sim
FROM cand
WHERE ROUND(1.0 - levenshtein(ta, tb) * 1.0 / mx, 6) >= {LEV_SIM_MIN}
"""


@query("dedup_fuzzy_levenshtein", oracle=FUZZY_LEV_ORACLE)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup detection — the record-linkage
    classic for catching small in-place edits (typo fixes, boilerplate
    swaps) that shingle-based Jaccard treats as noise and exact hashing
    misses entirely. Normalize whitespace/case, block on the first
    ``LEV_PREFIX`` normalized chars, then score in-block pairs by
    normalized similarity ``1 - lev/max(len)`` and keep those at or above
    ``LEV_SIM_MIN``.

    Two scale guards make this deployable:

    - The blocking join is a plain EQUI-join on the prefix expression —
      key-shuffled, never cartesian; work is bounded by block size (the
      standard blocking trade: edits inside the first ``LEV_PREFIX``
      chars move a doc to another block, the miss rate every blocked
      linker accepts; production stacks a second key, e.g. a suffix or
      length bucket, and unions candidates).
    - Levenshtein is O(len_a * len_b) per pair, the most expensive
      verify in the dedup suite — so pairs that PROVABLY cannot reach
      the threshold are pruned before it runs: ``lev >= |len_a -
      len_b|``, hence ``sim <= 1 - |len_a - len_b| / mx``, and any pair
      whose length gap exceeds ``mx * (1 - LEV_SIM_MIN)`` is dropped in
      the join condition. The test runs as exact integer arithmetic
      (``gap * LEV_GAP_DEN <= mx * LEV_GAP_NUM``) on BOTH engines so a
      pair sitting exactly on the similarity boundary is kept by both —
      genuinely no recall loss, including at the boundary.

    Determinism: edit distance and lengths are exact integers (verified:
    Spark ``levenshtein`` == DuckDB ``levenshtein`` on every blocked
    pair of this corpus), and the similarity is ONE IEEE division of
    exact integers rounded to 6 places before the threshold compare, so
    both engines keep the identical pair set."""
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("t"),
    )
    a, b = n.alias("a"), n.alias("b")
    la, lb = F.length("a.t"), F.length("b.t")
    mx = F.greatest(la, lb)
    raw_sim = F.round(
        1.0
        - F.levenshtein(F.col("a.t"), F.col("b.t")).cast("long") * 1.0 / mx,
        6,
    )
    # the WHOLE conjunction rides the join condition, cheap tests first:
    # codegen evaluates ANDs left-to-right, so the O(len^2) levenshtein
    # only runs on pairs that already passed the id-order and length-gap
    # prunes. Leaving the threshold as a post-join .where instead lets
    # Catalyst push it back into the join condition AHEAD of the cheap
    # predicates — measured: the DP then runs on every prefix-colliding
    # probe INCLUDING the |corpus| self-pairs (doc_id< had not filtered
    # them yet), 5.1 s -> 1.1 s at sf0.1 for the same 256 rows.
    cand = a.join(
        b,
        (
            F.substring(F.col("a.t"), 1, LEV_PREFIX)
            == F.substring(F.col("b.t"), 1, LEV_PREFIX)
        )
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(la - lb) * LEV_GAP_DEN <= mx * LEV_GAP_NUM)
        & (raw_sim >= LEV_SIM_MIN),
    )
    return cand.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.t"), F.col("b.t")).cast("long").alias(
            "edit_dist"
        ),
        raw_sim.alias("edit_sim"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003, "Winnowing: Local
# Algorithms for Document Fingerprinting"): char-gram rolling hashes,
# per-window minima, bucket join on the selected fingerprints.
# --------------------------------------------------------------------------

WIN_K = 24  # char-gram length (hash unit)
WIN_W = 8  # winnowing window: one fingerprint per W consecutive grams
WIN_MAX_DOC_FREQ = 50  # hot-fingerprint cap on pair generation
WIN_MIN_SHARED = 5  # candidate pairs must share at least this many fps

WINNOW_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         CAST(('0x' || substr(md5(substr(norm, CAST(i AS INT), {WIN_K})),
                              1, 15))::UBIGINT AS BIGINT) AS h
  FROM n, UNNEST(range(1, length(norm) - {WIN_K - 2})) AS u(i)
),
wnd AS (
  SELECT doc_id, CAST(j AS INT) AS j
  FROM n, UNNEST(range(1, length(norm) - {WIN_K - 2} - {WIN_W - 1})) AS u(j)
),
fp AS (
  SELECT DISTINCT t.doc_id, t.fp FROM (
    SELECT g.doc_id, wnd.j, MIN(h) AS fp
    FROM g JOIN wnd
      ON g.doc_id = wnd.doc_id AND g.i BETWEEN wnd.j AND wnd.j + {WIN_W - 1}
    GROUP BY g.doc_id, wnd.j
  ) t
),
cold AS (
  SELECT fp, list(doc_id) AS docs FROM fp
  GROUP BY fp HAVING COUNT(*) <= {WIN_MAX_DOC_FREQ}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM (SELECT unnest(docs) AS doc_id, fp FROM cold) a
JOIN (SELECT unnest(docs) AS doc_id, fp FROM cold) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WIN_MIN_SHARED}
"""


@query("winnow_candidate_pairs", oracle=WINNOW_ORACLE)
def winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003) as a near-dup
    candidate generator: hash every ``WIN_K``-char gram of the
    normalized text, keep the MINIMUM hash of each ``WIN_W``-gram
    window, and pair documents sharing >= ``WIN_MIN_SHARED`` selected
    fingerprints. The winnowing guarantee: any substring match of
    length >= WIN_K + WIN_W - 1 chars yields at least one SHARED
    fingerprint, with selection density <= 2/(WIN_W+1) — position-robust
    (an edit shifts gram positions but window minima re-align), which
    MinHash's whole-document signatures are not.

    Scale design: gram hashing AND window-minimum selection run IN-ROW
    (one transform over the gram sequence, one array_min per window —
    no explode of gram rows, no per-window shuffle; the DuckDB oracle's
    gram x window range JOIN is the shape this avoids). Only the
    DISTINCT selected fingerprints leave the row (~2/(W+1) of grams),
    into the standard bucket pipeline: hot-fingerprint cap
    (> ``WIN_MAX_DOC_FREQ`` docs = boilerplate, generates O(n^2) pairs
    with no signal — the ngram_jaccard cap rationale), then in-bucket
    pair expansion + a partial-aggregated shared count. All hashing is
    md5-derived 60-bit ints (the engine-portable hash family).

    r15 (guide §2.5): one md5 PER CHARACTER of normalized text runs
    in-row, pipelined into the gate's single-row-group scan task;
    spread_scan fans the rows across cores first (no-op at real scale).
    Measured 4.3 s -> 1.4 s at sf0.1 (3x)."""
    docs = spread_scan(spark, sf_dir, "documents", table(spark, sf_dir, "documents"))
    grams = (
        f"CASE WHEN length(norm) < {WIN_K} THEN array() ELSE "
        f"transform(sequence(1, length(norm) - {WIN_K - 1}),"
        f" i -> CAST(conv(substr(md5(substr(norm, i, {WIN_K})), 1, 15),"
        f" 16, 10) AS BIGINT)) END"
    )
    fps = (
        f"CASE WHEN size(h) < {WIN_W} THEN array() ELSE "
        f"array_distinct(transform(sequence(1, size(h) - {WIN_W - 1}),"
        f" j -> array_min(slice(h, j, {WIN_W})))) END"
    )
    sel = (
        docs.select(
            "doc_id",
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias(
                "norm"
            ),
        )
        .select("doc_id", F.expr(grams).alias("h"))
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )
    return _winnow_pairs_from_fps(sel)


def _winnow_pairs_from_fps(sel: DataFrame) -> DataFrame:
    """Shared tail of the winnowing pipeline: (doc_id, fp) selected
    fingerprints -> hot-fp cap -> in-bucket pair expansion ->
    partial-aggregated shared count -> ``WIN_MIN_SHARED`` gate. Both the
    md5 (oracle-portable) and the rolling-polynomial (production) front
    ends feed this identical plan."""
    cold = (
        sel.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.size("docs") <= WIN_MAX_DOC_FREQ)
        .select("fp", F.explode("docs").alias("doc_id"))
    )
    a, b = cold.alias("a"), cold.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= WIN_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Winnowing, production hash path: rolling-polynomial gram hashes in an
# Arrow-batched numpy kernel instead of per-gram md5 — same selection
# plan, same bucket tail, ~Kx less hashing work per char
# --------------------------------------------------------------------------

WIN_B = 1_000_003  # polynomial base (prime)
WIN_M = (1 << 31) - 1  # Mersenne modulus: every intermediate fits int64
_WIN_POW = [pow(WIN_B, WIN_K - 1 - k, WIN_M) for k in range(WIN_K)]

WINNOW_FAST_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         list_sum(list_transform(range(0, {WIN_K}),
           k -> CAST(unicode(substr(norm, CAST(i + k AS INT), 1)) AS BIGINT)
                * [{','.join(str(p) for p in _WIN_POW)}][CAST(k AS INT) + 1]
         )) % {WIN_M} AS h
  FROM n, UNNEST(range(1, length(norm) - {WIN_K - 2})) AS u(i)
),
wnd AS (
  SELECT doc_id, CAST(j AS INT) AS j
  FROM n, UNNEST(range(1, length(norm) - {WIN_K - 2} - {WIN_W - 1})) AS u(j)
),
fp AS (
  SELECT DISTINCT t.doc_id, t.fp FROM (
    SELECT g.doc_id, wnd.j, MIN(h) AS fp
    FROM g JOIN wnd
      ON g.doc_id = wnd.doc_id AND g.i BETWEEN wnd.j AND wnd.j + {WIN_W - 1}
    GROUP BY g.doc_id, wnd.j
  ) t
),
cold AS (
  SELECT fp, list(doc_id) AS docs FROM fp
  GROUP BY fp HAVING COUNT(*) <= {WIN_MAX_DOC_FREQ}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM (SELECT unnest(docs) AS doc_id, fp FROM cold) a
JOIN (SELECT unnest(docs) AS doc_id, fp FROM cold) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WIN_MIN_SHARED}
"""


def _winnow_fast_kernel(batches):
    """Arrow-batched fingerprint selector: per document, codepoint array
    -> polynomial gram hashes (vectorized sliding-window dot product mod
    ``WIN_M``) -> window minima -> distinct fingerprints. All exact
    int64 integer arithmetic (codepoints < 2^21 times powers < 2^31,
    summed over ``WIN_K`` terms < 2^57), so the DuckDB oracle computes
    the IDENTICAL values with list arithmetic."""
    import numpy as np
    import pandas as pd

    pow_vec = np.array(_WIN_POW, dtype=np.int64)
    for pdf in batches:
        ids, fps = [], []
        for doc_id, norm in zip(pdf["doc_id"], pdf["norm"]):
            if norm is None or len(norm) < WIN_K:
                continue
            # Explicit little-endian dtype ('<u4', not np.uint32): the
            # bytes are utf-32-LE, so a native-order dtype would decode
            # garbage codepoints on a big-endian host and silently
            # diverge from the DuckDB oracle / md5 twin.
            cp = np.frombuffer(
                norm.encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            wins = np.lib.stride_tricks.sliding_window_view(cp, WIN_K)
            h = (wins @ pow_vec) % WIN_M
            if h.size < WIN_W:
                continue
            sel = np.unique(
                np.lib.stride_tricks.sliding_window_view(h, WIN_W).min(axis=1)
            )
            ids.append(np.full(sel.size, doc_id, dtype=np.int64))
            fps.append(sel)
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "fp": np.concatenate(fps),
                }
            )


@query("winnow_candidate_pairs_fast", oracle=WINNOW_FAST_ORACLE)
def winnow_candidate_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``winnow_candidate_pairs`` with the hashing constant factor paid
    down: the md5 twin spends ~280 JVM digest calls per document (the
    measured dominant stage — 5.0 s of the 5.4 s wall at sf0.1) solely
    because md5 is the engine-portable hash family. This variant hashes
    grams with a rolling-polynomial family instead — codepoints times
    precomputed base powers mod a Mersenne prime — in ONE Arrow-batched
    numpy kernel (``mapInPandas``): a vectorized sliding-window dot
    product replaces per-gram digests, and window minima + distinct
    selection stay inside the same batch. This is the deliberate
    exception to the UDFs-are-the-slow-path rule: the JVM expression
    cannot express an O(1)-per-char rolling computation without O(n^2)
    array building, and the numpy kernel is measured faster than the
    in-row md5 fold it replaces (SCALE.md round 9).

    Selection semantics are IDENTICAL to the md5 twin (same K/W/caps,
    same winnowing guarantee); only the hash family differs, so the two
    operators' candidate sets agree except where hash ties/collisions
    perturb a window minimum (2^31 fp space; tested equal on the
    fixture corpus AND at gate scale). Polynomial mod arithmetic is
    exact integer math, so unlike most production hash choices it stays
    ORACLE-PORTABLE: the DuckDB twin recomputes the identical
    fingerprints with list arithmetic and the gate hash-checks the full
    pair set — not just a rows-only count.

    Scale: the kernel is per-document (embarrassingly parallel, no
    state), emits only the selected ~2/(W+1) fingerprint fraction
    across the Arrow boundary, and feeds the same capped-bucket
    equi-join tail as the md5 twin (``_winnow_pairs_from_fps``).

    r15: a spread_scan A/B measured NO win here (1.24 s unspread vs
    1.24-1.40 s spread at sf0.1) — the vectorized kernel is cheap enough
    that the capped-bucket join tail dominates, so the scan keeps its
    exchange-free shape (contrast the md5 twin, where hashing dominates
    and the spread pays 3x)."""
    docs = table(spark, sf_dir, "documents")
    sel = (
        docs.select(
            "doc_id",
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias(
                "norm"
            ),
        )
        .mapInPandas(_winnow_fast_kernel, "doc_id long, fp long")
    )
    return _winnow_pairs_from_fps(sel)


# --------------------------------------------------------------------------
# Cross-corpus contamination audit (r11): the decontamination standard —
# what fraction of each HELD-OUT doc's n-grams already exist in the
# training slice (the GPT-3-style 13-gram check, at this corpus's 3-gram
# scale)
# --------------------------------------------------------------------------

CONTAM_EVAL_MOD = 31        # doc_id % 31 == 0 -> the held-out eval slice
CONTAM_THRESHOLD_PCT = 50   # contaminated iff overlap > 50% of eval shingles

CONTAMINATION_ORACLE = f"""
WITH sh AS ({SHINGLES_DUCK}),
ev AS (SELECT * FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
hit AS (
  SELECT ev.doc_id, COUNT(*) AS n_overlap
  FROM ev JOIN tr USING (shingle) GROUP BY ev.doc_id
)
SELECT t.doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(h.n_overlap, 0) * 1.0 / t.n_shingles, 6) AS overlap_frac,
       COALESCE(h.n_overlap, 0) * 100 > t.n_shingles * {CONTAM_THRESHOLD_PCT}
         AS contaminated
FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
"""


def contamination_audit(
    spark: SparkSession,
    sf_dir: str,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """``contamination_ngram_audit`` parameterized over the EVAL SOURCE
    (r11 verdict #7: a real decontamination gate keys on a NAMED
    eval-set table, not a convenient id-mod slice). ``eval_docs`` is
    any (doc_id, text) frame — a benchmark set loaded from wherever —
    shingled through the same ``_doc_shingle_arrays`` rule as the
    corpus; the train side is then the ENTIRE corpus shingle set (an
    external benchmark is not part of the corpus, so nothing is held
    out of train). ``eval_docs=None`` keeps the registered query's
    oracle-stable semantics: the eval slice is the corpus's
    ``doc_id % CONTAM_EVAL_MOD == 0`` docs and train is its complement.
    Output schema and the exact integer-rational threshold are
    identical in both modes; named mode additionally emits a clean row
    (n_shingles 0, overlap_frac NULL) for eval docs too short to carry
    a shingle, so the output is keyed by the complete eval set."""
    sh = _shingles(spark, sf_dir)
    if eval_docs is None:
        ev = sh.where(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        tr = (
            sh.where(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
            .select("shingle")
            .distinct()
        )
        return _contamination_from(ev, tr)
    # named mode: the output is keyed by the FULL eval set (r12 review
    # finding — a benchmark item too short to carry a 3-gram must still
    # get its clean row: n_shingles 0, overlap_frac NULL, contaminated
    # false; otherwise a gate iterating audit rows would pass without
    # ever having examined it)
    ev = _doc_shingle_arrays(eval_docs).select(
        "doc_id", F.explode("shs").alias("shingle")
    )
    audit = _contamination_from(ev, sh.select("shingle").distinct())
    return eval_docs.select("doc_id").join(audit, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias(
            "n_shingles"
        ),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias(
            "n_overlap"
        ),
        F.col("overlap_frac"),
        F.coalesce(F.col("contaminated"), F.lit(False)).alias(
            "contaminated"
        ),
    )


@query("contamination_ngram_audit", oracle=CONTAMINATION_ORACLE)
def contamination_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit — the decontamination gate every
    benchmark-respecting training pipeline runs (the GPT-3 report's
    13-gram overlap check, expressed at this corpus's 3-gram shingle
    scale): split the corpus by a doc_id hash-mod into train and a
    held-out eval slice, then per eval doc report how many of its
    DISTINCT shingles already occur anywhere in train, the overlap
    fraction, and the contaminated verdict at an exact integer-rational
    threshold (``n_overlap * 100 > n_shingles * 50`` — no float
    boundary to diverge on). Shingles ride the persisted
    ``_shingle_arrays`` derived table, so the audit adds no new
    tokenize pass. The registered semantics keep the id-mod eval slice
    (oracle stability); ``contamination_audit`` takes any named
    (doc_id, text) eval table for production use against a real
    benchmark set.

    Plan shape: eval shingles semi-join the train-side DISTINCT shingle
    set on the shingle key — hash-partitioned, no pair expansion (a
    semi join cannot blow up on hot shingles the way the dedup
    candidate joins can), one count per eval doc. At 100 TB the train
    set is the big side and this is the standard decontam shape: one
    shuffle keyed by n-gram; a bloom/CMS pre-filter on the eval side is
    the established approximation when even that shuffle must shrink
    (the heavy_hitters_cms_audit machinery), at the cost of one-sided
    false overlap hits."""
    return contamination_audit(spark, sf_dir)


def _contamination_from(ev: DataFrame, tr: DataFrame) -> DataFrame:
    """The shared audit tail: per eval doc, distinct-shingle total,
    train-overlap count via LeftSemi, fraction, and the exact-rational
    contaminated verdict."""
    tot = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        ev.join(tr, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_over = F.coalesce(F.col("n_overlap"), F.lit(0))
    return (
        tot.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            n_over.cast("long").alias("n_overlap"),
            F.round(
                n_over * F.lit(1.0) / F.col("n_shingles"), 6
            ).alias("overlap_frac"),
            (n_over * 100 > F.col("n_shingles") * CONTAM_THRESHOLD_PCT).alias(
                "contaminated"
            ),
        )
    )


# --------------------------------------------------------------------------
# Substring-level cross-document dedup (r12): repeated-span removal plans —
# the suffix-array dedup family (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better", public) expressed on the shingle
# substrate at this corpus's 3-gram scale
# --------------------------------------------------------------------------

SPAN_DEDUP_K = 3          # span atom = the corpus-wide 3-gram shingle
SPAN_DEDUP_MIN_DOCS = 3   # a shingle is "repeated" iff >= 3 distinct docs

_POS_SHINGLES_DUCK = f"""
  SELECT doc_id, r.i AS pos,
         toks[r.i] || ' ' || toks[r.i+1] || ' ' || toks[r.i+2] AS shingle
  FROM (SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS toks
        FROM documents) d,
       UNNEST(range(1, greatest(len(toks) - 1, 1))) r(i)
"""

SPAN_DEDUP_ORACLE = f"""
WITH pos_sh AS ({_POS_SHINGLES_DUCK}),
fr AS (
  SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos_sh)
  GROUP BY shingle HAVING COUNT(*) >= {SPAN_DEDUP_MIN_DOCS}
),
flag AS (
  SELECT doc_id, pos, pos + {SPAN_DEDUP_K - 1} AS e FROM pos_sh
  WHERE shingle IN (SELECT shingle FROM fr)
),
brk AS (
  SELECT doc_id, pos, e,
         CASE WHEN MAX(e) OVER w IS NULL OR pos > MAX(e) OVER w + 1
              THEN 1 ELSE 0 END AS b
  FROM flag
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
grp AS (
  SELECT doc_id, pos, e,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS gid
  FROM brk
),
spans AS (
  SELECT doc_id, gid, MIN(pos) AS s, MAX(e) AS e
  FROM grp GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, SUM(e - s + 1) AS n_dup, COUNT(*) AS n_spans
  FROM spans GROUP BY 1
),
tot AS (
  SELECT doc_id, len(string_split({_NORM_DUCK}, ' ')) AS n FROM documents
)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       ROUND(COALESCE(a.n_dup, 0) * 1.0 / NULLIF(t.n, 0), 6) AS dup_ratio
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def _doc_pos_shingles(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, n, pos, shingle] — the POSITIONAL shingle
    index: one row per 3-gram occurrence (1-based start token ``pos``)
    plus one null-pos row per shingle-less doc (posexplode_outer), with
    each doc's token count ``n`` carried on every row. ONE tokenize
    pass feeds all three consumers of ``span_dedup_plan`` (the r12
    review finding: tot / frequent-set / flag each re-scanned and
    re-tokenized the corpus)."""
    toks = docs.select(
        "doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
    )
    return toks.select(
        "doc_id",
        F.expr("size(toks)").alias("n"),
        F.posexplode_outer(
            F.expr(ngram_expr("toks", SPAN_DEDUP_K))
        ).alias("p0", "shingle"),
    ).select(
        "doc_id", "n", (F.col("p0") + 1).alias("pos"), "shingle"
    )


_POS_SH_MEMO: dict[tuple[str, str], DataFrame] = {}


def _pos_shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_doc_pos_shingles`` over the documents table as a PERSISTED
    derived table + session memo (the ``_shingle_arrays`` rule: the
    positional index is the span-dedup family's on-disk artifact, built
    once per corpus version; same size class as the distinct-shingle
    arrays table)."""
    from ..derived import derived_table
    from ..memo import session_memo

    def build() -> DataFrame:
        return derived_table(
            spark,
            sf_dir,
            "doc_pos_shingles",
            ("documents",),
            lambda: _doc_pos_shingles(table(spark, sf_dir, "documents")),
        )

    return session_memo(_POS_SH_MEMO, spark, sf_dir, build)


def _span_dedup_spans(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, span_start, span_end] — the MERGED repeated
    spans of each document, 1-based inclusive token coordinates: every
    position starting a 3-gram that occurs in >= SPAN_DEDUP_MIN_DOCS
    distinct documents covers tokens [pos, pos+2]; overlapping or
    ADJACENT covered ranges merge (gaps-and-islands over a running
    max-end window). Parameterized over any (doc_id, text) frame so
    tests can pin exact boundaries on handcrafted corpora."""
    return _span_spans_from(
        _doc_pos_shingles(docs).where(F.col("pos").isNotNull())
    )


def _span_spans_from(pos_sh: DataFrame) -> DataFrame:
    """The span-merge tail over a positional-shingle frame
    [doc_id, pos, shingle]: flag every occurrence of a repeated
    shingle (uniform removal)."""
    fr = (
        pos_sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= SPAN_DEDUP_MIN_DOCS)
        .select("shingle")
    )
    flag = pos_sh.join(fr, "shingle", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + SPAN_DEDUP_K - 1).alias("e")
    )
    return _merge_flagged(flag)


def _span_keep_owner_spans_from(pos_sh: DataFrame) -> DataFrame:
    """The keep-one-copy flag rule: a repeated shingle's occurrences
    are flagged ONLY outside its OWNER doc (min doc_id containing it —
    the deterministic canonical copy), so every repeated chain survives
    somewhere in the corpus."""
    fr = (
        pos_sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("owner"),
        )
        .where(F.col("df") >= SPAN_DEDUP_MIN_DOCS)
        .select("shingle", "owner")
    )
    flag = (
        pos_sh.join(fr, "shingle")
        .where(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id", "pos", (F.col("pos") + SPAN_DEDUP_K - 1).alias("e")
        )
    )
    return _merge_flagged(flag)


def _merge_flagged(flag: DataFrame) -> DataFrame:
    """Merge flagged [doc_id, pos, e] ranges into maximal spans
    (overlapping-or-adjacent; running-max-end gaps-and-islands)."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    brk = F.when(
        prev_max.isNull() | (F.col("pos") > prev_max + 1), 1
    ).otherwise(0)
    return (
        flag.withColumn("gid", F.sum(brk).over(w_run))
        .groupBy("doc_id", "gid")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("e").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


@query("span_dedup_plan", oracle=SPAN_DEDUP_ORACLE)
def span_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level cross-document dedup — the OTHER staple of the
    training-data literature next to doc-level near-dup (Lee et al.
    2022's suffix-array method, public): find token SPANS repeated
    across >= SPAN_DEDUP_MIN_DOCS distinct documents and emit each
    document's span-REMOVAL plan in the ``span_corruption_plan`` budget
    shape — token count, duplicated-token count, merged span count, and
    the realized duplication ratio (exact integers plus one rounded
    division; the float has the repo-wide ``* 1.0 /`` form). A span is
    the union of overlapping-or-adjacent occurrences of repeated
    3-gram shingles (positional twins of the corpus shingle rule —
    same normalization, same ``ngram_expr``), merged per doc with a
    running-max-end gaps-and-islands window; at the reference
    suffix-array method's 50-token threshold the atoms are longer but
    the pipeline is identical.

    Plan shape, and why the dedup family's hot-bucket cap is NOT
    needed here: occurrences are never joined to occurrences — the
    repeated-shingle set comes from a distinct + count aggregation and
    flags positions through a LeftSemi join (the contamination-audit
    argument: a semi join cannot pair-expand on hot shingles), so every
    stage is linear in corpus tokens. One tokenize pass — the
    POSITIONAL shingle index persists as a derived table
    (``_pos_shingle_table``; the r12 review caught tot/frequent/flag
    each re-tokenizing) and the per-doc token count rides every index
    row, so ``tot`` is a row-local filter on the same frame (the
    pos-is-null-or-1 row each doc has exactly once). Then one
    shingle-keyed aggregation, one semi join, two doc-keyed window
    passes over flagged positions only. At 100 TB this is the standard
    decontam/dedup exchange budget: shuffles keyed by n-gram and by
    doc_id, nothing quadratic anywhere."""
    frame = _pos_shingle_table(spark, sf_dir)
    tot = frame.where(
        F.col("pos").isNull() | (F.col("pos") == 1)
    ).select("doc_id", "n")
    per_doc = (
        _span_spans_from(
            frame.where(F.col("pos").isNotNull()).select(
                "doc_id", "pos", "shingle"
            )
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("span_end") - F.col("span_start") + 1
            ).alias("n_dup"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0))
    return tot.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        n_dup.cast("long").alias("n_dup_tokens"),
        n_spans.cast("long").alias("n_spans"),
        F.round(n_dup * F.lit(1.0) / F.nullif(F.col("n"), F.lit(0)), 6).alias(
            "dup_ratio"
        ),
    )


SPAN_APPLY_ORACLE = f"""
WITH pos_sh AS ({_POS_SHINGLES_DUCK}),
fr AS (
  SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos_sh)
  GROUP BY shingle HAVING COUNT(*) >= {SPAN_DEDUP_MIN_DOCS}
),
flag AS (
  SELECT doc_id, pos, pos + {SPAN_DEDUP_K - 1} AS e FROM pos_sh
  WHERE shingle IN (SELECT shingle FROM fr)
),
brk AS (
  SELECT doc_id, pos, e,
         CASE WHEN MAX(e) OVER w IS NULL OR pos > MAX(e) OVER w + 1
              THEN 1 ELSE 0 END AS b
  FROM flag
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
grp AS (
  SELECT doc_id, pos, e,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS gid
  FROM brk
),
spans AS (
  SELECT doc_id, list({{'s': s, 'e': e}}) AS ss FROM (
    SELECT doc_id, gid, MIN(pos) AS s, MAX(e) AS e
    FROM grp GROUP BY 1, 2) t
  GROUP BY doc_id
),
tok AS (
  SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS toks FROM documents
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - len(kept) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5
FROM (
  SELECT t.doc_id, t.toks,
         list_transform(
           list_filter(range(1, len(t.toks) + 1),
             i -> len(list_filter(
                    COALESCE(s.ss, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
                    sp -> i >= sp.s AND i <= sp.e)) = 0),
           i -> t.toks[CAST(i AS INT)]) AS kept
  FROM tok t LEFT JOIN spans s USING (doc_id)
) t
"""


@query("span_dedup_apply", oracle=SPAN_APPLY_ORACLE)
def span_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the ``span_dedup_plan``: emit each document's CLEANED text
    — every token covered by a merged repeated span removed, survivors
    rejoined in order — as (token counts, removed count, md5 of the
    cleaned string), the artifact a training pipeline actually writes
    after span dedup. The md5 pins the full cleaned string through the
    gate without shipping corpus-sized text into the hash compare.
    Removal is uniform (every occurrence goes); the Lee et al. 2022
    keep-one-copy variant needs a global owner assignment per repeated
    chain (e.g. min doc_id) — a coordination step deliberately out of
    this operator's per-doc scope and documented rather than implied.

    Plan shape: the span frame (same persisted positional-shingle
    index as the plan operator) is collected to ONE row per doc
    (collect_list of its few spans), left-joined to the token arrays,
    and the removal itself is a row-local array filter — no new
    exchange class beyond the plan operator's budget."""
    frame = _pos_shingle_table(spark, sf_dir)
    spans = (
        _span_spans_from(
            frame.where(F.col("pos").isNotNull()).select(
                "doc_id", "pos", "shingle"
            )
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("ss")
        )
    )
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks")
    )
    joined = tok.join(spans, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(
            F.col("ss"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
        ).alias("ss"),
    )
    kept = (
        "transform(filter(sequence(1, size(toks)),"
        " i -> NOT exists(ss, sp -> i >= sp.s AND i <= sp.e)),"
        " i -> element_at(toks, i))"
    )
    return joined.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_tokens"),
        F.expr(f"size(toks) - size({kept})").cast("long").alias("n_removed"),
        F.md5(F.expr(f"concat_ws(' ', {kept})")).alias("cleaned_md5"),
    )


SPAN_KEEP_OWNER_ORACLE = f"""
WITH pos_sh AS ({_POS_SHINGLES_DUCK}),
fr AS (
  SELECT shingle, MIN(doc_id) AS owner
  FROM (SELECT DISTINCT doc_id, shingle FROM pos_sh)
  GROUP BY shingle HAVING COUNT(*) >= {SPAN_DEDUP_MIN_DOCS}
),
flag AS (
  SELECT p.doc_id, p.pos, p.pos + {SPAN_DEDUP_K - 1} AS e
  FROM pos_sh p JOIN fr f USING (shingle)
  WHERE p.doc_id <> f.owner
),
brk AS (
  SELECT doc_id, pos, e,
         CASE WHEN MAX(e) OVER w IS NULL OR pos > MAX(e) OVER w + 1
              THEN 1 ELSE 0 END AS b
  FROM flag
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
grp AS (
  SELECT doc_id, pos, e,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS gid
  FROM brk
),
spans AS (
  SELECT doc_id, gid, MIN(pos) AS s, MAX(e) AS e
  FROM grp GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, SUM(e - s + 1) AS n_dup, COUNT(*) AS n_spans
  FROM spans GROUP BY 1
),
tot AS (
  SELECT doc_id, len(string_split({_NORM_DUCK}, ' ')) AS n FROM documents
)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       ROUND(COALESCE(a.n_dup, 0) * 1.0 / NULLIF(t.n, 0), 6) AS dup_ratio
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def _span_dedup_keep_owner_spans(docs: DataFrame) -> DataFrame:
    """``_span_dedup_spans``'s keep-one-copy twin over any (doc_id,
    text) frame — for boundary tests on handcrafted corpora."""
    return _span_keep_owner_spans_from(
        _doc_pos_shingles(docs).where(F.col("pos").isNotNull())
    )


@query("span_dedup_keep_owner", oracle=SPAN_KEEP_OWNER_ORACLE)
def span_dedup_keep_owner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``span_dedup_plan``'s KEEP-ONE-COPY variant — the discipline the
    suffix-array dedup literature actually applies (Lee et al. 2022
    remove later occurrences, keeping one): each repeated shingle gets
    a deterministic OWNER (the min doc_id containing it — no scan-order
    dependence, so both engines agree unconditionally), and occurrences
    are flagged for removal only OUTSIDE the owner doc. Every repeated
    chain therefore survives verbatim somewhere in the corpus — the
    uniform variant can delete a phrase from every document that has
    it, which loses content; this one can't. Same plan-budget shape
    (positional index -> shingle-keyed aggregation -> equi-join flag ->
    per-doc merge windows) with one addition: the flag join carries the
    owner column, still keyed by shingle, still no occurrence-pair
    expansion. Output schema matches span_dedup_plan row for row, so
    the two plans difference cleanly (n_dup_tokens here <= the uniform
    plan's for every doc — pinned in tests)."""
    frame = _pos_shingle_table(spark, sf_dir)
    tot = frame.where(
        F.col("pos").isNull() | (F.col("pos") == 1)
    ).select("doc_id", "n")
    per_doc = (
        _span_keep_owner_spans_from(
            frame.where(F.col("pos").isNotNull()).select(
                "doc_id", "pos", "shingle"
            )
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("span_end") - F.col("span_start") + 1
            ).alias("n_dup"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0))
    return tot.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        n_dup.cast("long").alias("n_dup_tokens"),
        n_spans.cast("long").alias("n_spans"),
        F.round(n_dup * F.lit(1.0) / F.nullif(F.col("n"), F.lit(0)), 6).alias(
            "dup_ratio"
        ),
    )


SPAN_INCREMENTAL_ORACLE = f"""
WITH pos_sh AS ({_POS_SHINGLES_DUCK}),
t AS (SELECT CAST((MAX(doc_id) * {INC_SPLIT_NUM}) // {INC_SPLIT_DEN} AS BIGINT)
        AS t
      FROM documents),
fr AS (
  SELECT shingle FROM (
    SELECT DISTINCT doc_id, shingle FROM pos_sh
    WHERE doc_id <= (SELECT t FROM t))
  GROUP BY shingle HAVING COUNT(*) >= {SPAN_DEDUP_MIN_DOCS}
),
flag AS (
  SELECT doc_id, pos, pos + {SPAN_DEDUP_K - 1} AS e FROM pos_sh
  WHERE doc_id > (SELECT t FROM t)
    AND shingle IN (SELECT shingle FROM fr)
),
brk AS (
  SELECT doc_id, pos, e,
         CASE WHEN MAX(e) OVER w IS NULL OR pos > MAX(e) OVER w + 1
              THEN 1 ELSE 0 END AS b
  FROM flag
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
grp AS (
  SELECT doc_id, pos, e,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS gid
  FROM brk
),
spans AS (
  SELECT doc_id, gid, MIN(pos) AS s, MAX(e) AS e
  FROM grp GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, SUM(e - s + 1) AS n_dup, COUNT(*) AS n_spans
  FROM spans GROUP BY 1
),
tot AS (
  SELECT doc_id, len(string_split({_NORM_DUCK}, ' ')) AS n FROM documents
  WHERE doc_id > (SELECT t FROM t)
)
SELECT t2.doc_id,
       CAST(t2.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       ROUND(COALESCE(a.n_dup, 0) * 1.0 / NULLIF(t2.n, 0), 6) AS dup_ratio
FROM tot t2 LEFT JOIN agg a USING (doc_id)
"""


@query("span_dedup_incremental", oracle=SPAN_INCREMENTAL_ORACLE)
def span_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion span dedup — ``span_dedup_plan`` restricted
    to TODAY'S ingest batch against the FROZEN corpus index (the
    ``dedup_incremental_new_docs`` split: docs above 80% of max id are
    the arriving batch): a new doc's span is flagged iff its 3-gram
    already occurs in >= SPAN_DEDUP_MIN_DOCS distinct BASE docs, i.e.
    the repeated-shingle set is computed over the standing corpus only
    and new arrivals never extend it mid-batch — the index version a
    production ingest pins per day. Emits the removal-plan budget for
    new docs only; same schema as span_dedup_plan.

    Scale: the frequent-shingle set is the persisted index artifact
    (built once per corpus version — here recomputed because the gate
    re-derives everything); per-ingest work is the NEW docs' positional
    shingles semi-joined against it — proportional to the batch, not
    the corpus. The boundary is a 1-row aggregate broadcast into the
    plan, never collected (the incremental-dedup convention)."""
    frame = _pos_shingle_table(spark, sf_dir)
    thr = frame.agg(
        F.expr(
            f"(max(doc_id) * {INC_SPLIT_NUM}) div {INC_SPLIT_DEN}"
        ).alias("t")
    )
    pos = frame.where(F.col("pos").isNotNull()).join(F.broadcast(thr))
    fr = (
        pos.where(F.col("doc_id") <= F.col("t"))
        .select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= SPAN_DEDUP_MIN_DOCS)
        .select("shingle")
    )
    flag = (
        pos.where(F.col("doc_id") > F.col("t"))
        .join(fr, "shingle", "left_semi")
        .select(
            "doc_id", "pos", (F.col("pos") + SPAN_DEDUP_K - 1).alias("e")
        )
    )
    per_doc = (
        _merge_flagged(flag)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("span_end") - F.col("span_start") + 1
            ).alias("n_dup"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    tot = (
        frame.where(F.col("pos").isNull() | (F.col("pos") == 1))
        .join(F.broadcast(thr))
        .where(F.col("doc_id") > F.col("t"))
        .select("doc_id", "n")
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0))
    return tot.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        n_dup.cast("long").alias("n_dup_tokens"),
        n_spans.cast("long").alias("n_spans"),
        F.round(n_dup * F.lit(1.0) / F.nullif(F.col("n"), F.lit(0)), 6).alias(
            "dup_ratio"
        ),
    )

"""Training-batch preparation operators (north-star LLM-pipeline surface).

Operators between the cleaned corpus and the trainer, complementing
:mod:`corpus_ops` (decontamination/chunking/vocab) — all pure codegen
expressions with exact DuckDB oracles:

- doc_repetition_scores     : Gopher-style repetition quality gates —
  duplicate-trigram ratio and top-token frequency ratio per document.
  Heavily repetitive documents are the classic low-quality signal these
  thresholds remove before training.
- embedding_label_centroids : per-label mean embedding by dimension —
  the centroid table an IVF index (similarity.py) seeds from, and the
  drift dashboard for embedding-space monitoring.
- seq_length_buckets        : documents bucketed by fixed-width token
  count for length-bucketed batch packing; reports the padding overhead
  each bucket pays if padded to its top.
- source_temperature_weights: per-source sampling weights w ∝ sqrt(token
  share) (temperature-style source re-weighting, alpha=0.5 so the power
  is IEEE-exact sqrt on both engines — pow(x, 0.7) is libm-dependent and
  NOT hash-portable).
- doc_pack_bins             : sequential packing of documents into
  fixed-capacity token bins by per-shard running sums (the distributed
  packing shape: windows parallel across shards, never one global
  serial pass).

Cross-engine determinism: ratios are ONE IEEE division of exact integers;
centroid means divide an exact DECIMAL sum once; the weight denominator
sums DECIMAL(18,6)-rounded terms (decimal addition is associative, so the
aggregate is order-free where a double sum would depend on partitioning).

Scale notes: everything is explode -> partial-aggregate -> one shuffle on
the group key. The only 64x row inflation (centroids) aggregates down to
|labels| x 64 rows with map-side combine before the exchange; the weight
normalization windows over one row per source (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..tables import spread_frame, table
from .dedup import _NORM_DUCK, _NORM_SPARK, ngram_expr


# --------------------------------------------------------------------------
# Repetition quality gates (within-document duplicate structure)
# --------------------------------------------------------------------------

REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS t FROM documents
),
tokc AS (
  SELECT doc_id, g.tok, COUNT(*) AS c
  FROM toks, unnest(t) g(tok) GROUP BY doc_id, g.tok
),
tt AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS max_tok
  FROM tokc GROUP BY doc_id
),
tri AS (
  SELECT doc_id, g.s FROM toks,
    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
           i -> array_to_string(t[i:i+2], ' '))) g(s)
  WHERE len(t) >= 3
),
trc AS (
  SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT s) AS n_dist
  FROM tri GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(tr.n_tri - tr.n_dist AS DOUBLE) / tr.n_tri AS dup_trigram_ratio,
       CAST(t.max_tok AS DOUBLE) / t.n_tokens AS top_token_ratio
FROM tt t JOIN trc tr ON t.doc_id = tr.doc_id
"""


@query("doc_repetition_scores", oracle=REPETITION_ORACLE)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals: share of trigrams that are
    duplicates of an earlier trigram in the same document, and the most
    frequent token's share of all tokens. Both are one IEEE division of
    exact integer counts (bit-identical cross-engine). Documents shorter
    than 3 tokens have no trigram row and drop out (inner join), exactly
    like the oracle."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(f"split({_NORM_SPARK}, ' ')").alias("t"))
    tokc = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tt = tokc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("max_tok")
    )
    tri = toks.select(
        "doc_id", F.explode(F.expr(ngram_expr("t", 3))).alias("s")
    )
    trc = tri.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"), F.countDistinct("s").alias("n_dist")
    )
    return tt.join(trc, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            (F.col("n_tri") - F.col("n_dist")).cast("double") / F.col("n_tri")
        ).alias("dup_trigram_ratio"),
        (F.col("max_tok").cast("double") / F.col("n_tokens")).alias(
            "top_token_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Per-label embedding centroids (IVF seed / drift table)
# --------------------------------------------------------------------------

CENTROID_ORACLE = """
WITH x AS (
  SELECT label, r.i - 1 AS dim, CAST(embedding[r.i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) r(i)
)
SELECT label, dim, COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*), 6)
         AS centroid
FROM x GROUP BY label, dim
"""


@query("embedding_label_centroids", oracle=CENTROID_ORACLE)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) mean embedding: posexplode -> one shuffle on
    (label, dim) with map-side partial aggregation — the 64x row inflation
    collapses to |labels| x 64 output rows. The sum is exact DECIMAL (so
    aggregation order is irrelevant) and the mean is one IEEE division."""
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("v").cast("decimal(28,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid"),
    )


# --------------------------------------------------------------------------
# Length-bucketed batch packing
# --------------------------------------------------------------------------

BUCKET_W = 32  # tokens per bucket

BUCKET_ORACLE = f"""
WITH n AS (
  SELECT doc_id, len(string_split({_NORM_DUCK}, ' ')) AS n_tokens
  FROM documents
)
SELECT CAST((n_tokens - 1) // {BUCKET_W} AS INTEGER) AS bucket,
       CAST(((n_tokens - 1) // {BUCKET_W}) * {BUCKET_W} + 1 AS BIGINT) AS bucket_lo,
       CAST(((n_tokens - 1) // {BUCKET_W} + 1) * {BUCKET_W} AS BIGINT) AS bucket_hi,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(((n_tokens - 1) // {BUCKET_W} + 1) * {BUCKET_W} - n_tokens)
         AS BIGINT) AS padding_tokens
FROM n GROUP BY 1, 2, 3
"""


@query("seq_length_buckets", oracle=BUCKET_ORACLE)
def seq_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width token-length buckets for batch packing: per bucket, how
    many documents land there and how many pad tokens padding-to-bucket-top
    would cost. All integer arithmetic — exact on both engines. One
    aggregation shuffle on the (tiny-cardinality) bucket key; partial
    aggregation makes the exchange a few rows per input partition."""
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        F.expr(f"size(split({_NORM_SPARK}, ' '))").alias("n_tokens")
    )
    b = F.expr(f"(n_tokens - 1) DIV {BUCKET_W}")
    return (
        n.select(
            b.cast("int").alias("bucket"),
            (b * BUCKET_W + 1).cast("long").alias("bucket_lo"),
            ((b + 1) * BUCKET_W).cast("long").alias("bucket_hi"),
            "n_tokens",
        )
        .groupBy("bucket", "bucket_lo", "bucket_hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("bucket_hi") - F.col("n_tokens")).alias(
                "padding_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# Temperature-style source sampling weights (alpha = 0.5 => sqrt)
# --------------------------------------------------------------------------

TEMPERATURE_ORACLE = f"""
WITH pers AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(len(string_split({_NORM_DUCK}, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS srt
  FROM pers
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(srt AS DOUBLE) / CAST(SUM(srt) OVER () AS DOUBLE), 6)
         AS weight
FROM w
"""


@query("source_temperature_weights", oracle=TEMPERATURE_ORACLE)
def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial source re-weighting at temperature alpha=0.5: sampling
    weight proportional to sqrt(source token count). sqrt is IEEE-exact
    (correctly rounded) on both engines where general pow() is not; each
    sqrt is rounded to DECIMAL(18,6) so the normalizing sum is exact
    decimal addition (order-free), then ONE IEEE division per source.
    Aggregation is one shuffle on source; the normalization window spans
    one row per source — broadcast-tiny."""
    docs = table(spark, sf_dir, "documents")
    pers = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(f"size(split({_NORM_SPARK}, ' '))")).alias("n_tokens"),
    )
    w = pers.select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("srt"),
    )
    tot = Window.partitionBy()
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("srt").cast("double") / F.sum("srt").over(tot).cast("double"),
            6,
        ).alias("weight"),
    )


# --------------------------------------------------------------------------
# Sequential document packing into fixed token budgets (per shard)
# --------------------------------------------------------------------------

PACK_CAPACITY = 512  # token budget per packed sequence
PACK_SHARDS = 8  # documents pack within hash shards, not globally

PACK_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
         len(string_split({_NORM_DUCK}, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM n
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS bin_id,
       CAST((cum - n_tokens) - ((cum - n_tokens) // {PACK_CAPACITY}) * {PACK_CAPACITY}
            AS BIGINT) AS bin_offset
FROM c
"""


@query("doc_pack_bins", oracle=PACK_ORACLE)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents are assigned to fixed-capacity token
    bins by a running cumulative sum in doc_id order WITHIN hash shards —
    the distributed form of greedy sequential packing (global packing
    would serialize through one partition; per-shard packing keeps the
    window parallel across shards, which is how packing shards out at any
    scale). bin_id/bin_offset locate the doc's FIRST token (a doc longer than
    the remaining capacity spills into following bins — the
    concat-then-chunk convention). All integer arithmetic."""
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.expr(f"size(split({_NORM_SPARK}, ' '))").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = n.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")  # 0-based token position
    bin_id = F.expr(f"(cum - n_tokens) DIV {PACK_CAPACITY}")
    return c.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        bin_id.cast("long").alias("bin_id"),
        (start - bin_id * PACK_CAPACITY).cast("long").alias("bin_offset"),
    )


def _pack_bpe_oracle() -> str:
    from .textstats import _bpe_enc_ctes

    return f"""
WITH RECURSIVE
{_bpe_enc_ctes()},
tok AS (
  SELECT dw.doc_id, SUM(c * n_toks) AS n_tokens
  FROM dw JOIN enc USING (w) GROUP BY dw.doc_id
),
sh AS (
  SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY doc_id % {PACK_SHARDS}
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM tok
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // {PACK_CAPACITY} AS BIGINT) AS bin_id,
       CAST((cum - n_tokens) - ((cum - n_tokens) // {PACK_CAPACITY}) * {PACK_CAPACITY}
            AS BIGINT) AS bin_offset
FROM sh
"""


@query("doc_pack_bins_bpe", oracle=_pack_bpe_oracle())
def doc_pack_bins_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_pack_bins`` billed in REAL tokenizer units: documents pack
    into fixed-capacity bins by their trained-BPE token counts
    (``textstats.bpe_encode_corpus``) instead of the whitespace proxy —
    the packing a pipeline actually ships once a vocabulary exists,
    since whitespace counts misprice docs by the compression ratio and
    overflow/underfill the bins.

    Plan: the BPE accounting sub-plan (vocab-sized train + encode, one
    corpus equi-join) feeds the same per-shard cumulative-sum window as
    the whitespace packer — the window still parallelizes across
    ``PACK_SHARDS`` hash shards. Documents with zero letter-run words
    have no BPE tokens and drop out on BOTH engines (inner join against
    the encoded vocab)."""
    from .textstats import _bpe_doc_tokens

    tok = _bpe_doc_tokens(spark, sf_dir).select("doc_id", "n_bpe_tokens")
    n = tok.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.col("n_bpe_tokens").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = n.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    bin_id = F.expr(f"(cum - n_tokens) DIV {PACK_CAPACITY}")
    return c.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        bin_id.cast("long").alias("bin_id"),
        (start - bin_id * PACK_CAPACITY).cast("long").alias("bin_offset"),
    )


# --------------------------------------------------------------------------
# Novelty scoring: how much of a document is unique to it corpus-wide
# --------------------------------------------------------------------------

NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, t.s AS shingle FROM (
    SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS toks FROM documents) d,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) t(s)
),
df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS novelty_ratio
FROM sh JOIN df ON sh.shingle = df.shingle
GROUP BY sh.doc_id
"""


@query("doc_novelty_scores", oracle=NOVELTY_ORACLE)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide novelty per document: the fraction of its distinct
    trigram shingles that appear in NO other document (df == 1). High
    novelty marks unique content; low novelty marks recycled/boilerplate
    text — the complement of the within-doc repetition gate. Document
    frequency is a window count partitioned by shingle, so ONE exchange
    serves df computation and the per-doc aggregate re-partitions only
    the (doc_id, is_novel) pairs; a separate df groupBy + join back would
    shuffle the shingle set twice. One IEEE division of exact counts."""
    from .dedup import _shingles

    sh = _shingles(spark, sf_dir)
    wdf = Window.partitionBy("shingle")
    flagged = sh.withColumn("df", F.count(F.lit(1)).over(wdf))
    novel = F.when(F.col("df") == 1, F.lit(1)).otherwise(F.lit(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(novel).alias("n_novel"),
        (F.sum(novel).cast("double") / F.count(F.lit(1))).alias(
            "novelty_ratio"
        ),
    )



# --------------------------------------------------------------------------
# Dataset mixture plan: temperature weights -> per-source token quotas
# --------------------------------------------------------------------------

TRAIN_TOKEN_BUDGET = 10_000_000  # tokens in the training mix being planned

MIXTURE_ORACLE = f"""
WITH w AS ({TEMPERATURE_ORACLE})
SELECT source, n_tokens, weight,
       CAST(ROUND({TRAIN_TOKEN_BUDGET} * weight) AS BIGINT) AS target_tokens,
       ROUND(CAST(ROUND({TRAIN_TOKEN_BUDGET} * weight) AS BIGINT)
             * 1.0 / n_tokens, 6) AS epochs,
       CAST(FLOOR(CAST(ROUND({TRAIN_TOKEN_BUDGET} * weight) AS BIGINT)
                  * 1.0 / n_tokens) AS BIGINT) AS full_repeats,
       CAST(ROUND({TRAIN_TOKEN_BUDGET} * weight) AS BIGINT)
         - CAST(FLOOR(CAST(ROUND({TRAIN_TOKEN_BUDGET} * weight) AS BIGINT)
                      * 1.0 / n_tokens) AS BIGINT) * n_tokens
         AS tail_tokens
FROM w
"""


@query("dataset_mixture_plan", oracle=MIXTURE_ORACLE)
def dataset_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the alpha=0.5 temperature weights into an executable
    training-mix plan for a fixed token budget: per source, the token
    quota, the implied epoch count (quota / corpus tokens — above 1.0
    means the source is UPSAMPLED and will repeat), the whole-corpus
    repeat count, and the tokens still needed from a final partial pass
    (which a deterministic hash sample like corpus_sample_hash then
    selects). This is the mixture table every large pretraining run is
    configured from; composing the registered weights operator keeps
    plan and weights from drifting apart.

    Scale: one aggregation shuffle on source (inside the composed
    weights query) — the plan itself is |sources|-sized arithmetic.
    Cross-engine determinism: weight is already a round(x, 6) double;
    budget*weight, round, floor, and the integer remainders are
    IEEE/integer-identical on both engines."""
    w = source_temperature_weights(spark, sf_dir)
    target = F.round(F.lit(TRAIN_TOKEN_BUDGET) * F.col("weight")).cast("long")
    full = F.floor(target * 1.0 / F.col("n_tokens")).cast("long")
    return w.select(
        "source",
        "n_tokens",
        "weight",
        target.alias("target_tokens"),
        F.round(target * 1.0 / F.col("n_tokens"), 6).alias("epochs"),
        full.alias("full_repeats"),
        (target - full * F.col("n_tokens")).alias("tail_tokens"),
    )


# --------------------------------------------------------------------------
# End-to-end training-data funnel (per-stage retention report)
# --------------------------------------------------------------------------

FUNNEL_Q_MIN = 0.6


def _funnel_oracle() -> str:
    from .dedup import DEDUP_EXACT_ORACLE, _survivor_oracle
    from .textstats import QUALITY_ORACLE

    stages = """
SELECT 0 AS stage_idx, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept FROM flags
UNION ALL
SELECT 1, 'exact_dedup', CAST(COUNT(*) FILTER (WHERE c1) AS BIGINT),
       CAST(SUM(n_tokens) FILTER (WHERE c1) AS BIGINT) FROM flags
UNION ALL
SELECT 2, 'near_dedup_survivor', CAST(COUNT(*) FILTER (WHERE c2) AS BIGINT),
       CAST(SUM(n_tokens) FILTER (WHERE c2) AS BIGINT) FROM flags
UNION ALL
SELECT 3, 'quality_min', CAST(COUNT(*) FILTER (WHERE c3) AS BIGINT),
       CAST(SUM(n_tokens) FILTER (WHERE c3) AS BIGINT) FROM flags
UNION ALL
SELECT 4, 'lang_en', CAST(COUNT(*) FILTER (WHERE c4) AS BIGINT),
       CAST(SUM(n_tokens) FILTER (WHERE c4) AS BIGINT) FROM flags
"""
    return f"""
WITH ex AS ({DEDUP_EXACT_ORACLE}),
ns AS ({_survivor_oracle()}),
q AS ({QUALITY_ORACLE}),
flags AS (
  SELECT d.doc_id, q.n_tokens,
         d.doc_id IN (SELECT canonical_doc FROM ex) AS c1,
         (d.doc_id IN (SELECT canonical_doc FROM ex)
          AND ns.is_survivor) AS c2,
         (d.doc_id IN (SELECT canonical_doc FROM ex)
          AND ns.is_survivor
          AND q.quality_score >= {FUNNEL_Q_MIN}) AS c3,
         (d.doc_id IN (SELECT canonical_doc FROM ex)
          AND ns.is_survivor
          AND q.quality_score >= {FUNNEL_Q_MIN}
          AND d.lang = 'en') AS c4
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN ns ON d.doc_id = ns.doc_id
)
SELECT stage_idx, stage, docs_kept, tokens_kept FROM ({stages})
"""


@query("training_pipeline_funnel", oracle=_funnel_oracle())
def training_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-to-training-set pipeline as ONE retention report:
    per stage, how many documents and tokens survive the cumulative
    filter chain raw -> exact dedup (min-doc_id canonical per normalized
    text) -> near-dup cluster survivor (quality-ranked,
    ``dedup_survivor_quality``) -> quality floor (score >= 0.6) ->
    language gate (lang = 'en'). This is the dashboard row a data team
    reads before a training run, and it composes the REGISTERED
    operators (dedup_exact / dedup_survivor_quality /
    text_quality_scores), so its green row re-certifies the pipeline the
    way a user actually chains it.

    Plan shape: each flag source is a doc_id-keyed frame (hash aggregate
    or cluster labels); three joins on doc_id feed ONE scalar aggregate
    computing every cumulative count/sum with conditional aggregation,
    and the 5-row report is a row-local ``stack``. Nothing wider than
    doc_id-keyed exchanges; output is bounded by the stage count.
    Determinism: the quality threshold compares the ROUNDED score both
    engines emit identically; token counts are exact BIGINTs."""
    from .dedup import dedup_exact, dedup_survivor_quality
    from .textstats import text_quality_scores

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    ex = dedup_exact(spark, sf_dir).select(
        F.col("canonical_doc").alias("doc_id"), F.lit(True).alias("is_canon")
    )
    ns = dedup_survivor_quality(spark, sf_dir).select("doc_id", "is_survivor")
    q = text_quality_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    flags = (
        docs.join(q, "doc_id")
        .join(ns, "doc_id")
        .join(ex, "doc_id", "left")
        .withColumn("c1", F.coalesce(F.col("is_canon"), F.lit(False)))
        .withColumn("c2", F.col("c1") & F.col("is_survivor"))
        .withColumn(
            "c3", F.col("c2") & (F.col("quality_score") >= FUNNEL_Q_MIN)
        )
        .withColumn("c4", F.col("c3") & (F.col("lang") == "en"))
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tokens").alias("t0"),
        *[
            x
            for i in (1, 2, 3, 4)
            for x in (
                F.count_if(F.col(f"c{i}")).alias(f"d{i}"),
                F.sum(F.when(F.col(f"c{i}"), F.col("n_tokens"))).alias(
                    f"t{i}"
                ),
            )
        ],
    )
    names = ["raw", "exact_dedup", "near_dedup_survivor", "quality_min", "lang_en"]
    stack = ", ".join(
        f"{i}, '{n}', d{i}, t{i}" for i, n in enumerate(names)
    )
    return agg.select(
        F.expr(
            f"stack(5, {stack}) AS (stage_idx, stage, docs_kept, tokens_kept)"
        )
    )


# --------------------------------------------------------------------------
# Deterministic training shuffle: shard assignment + global in-shard order
# --------------------------------------------------------------------------
#
# A pretraining export needs the corpus SHUFFLED — reproducibly, across
# engines and reruns, with no driver-side state. The portable primitive is
# the same md5-threshold machinery as corpus_sample_hash: shuffle_key =
# first 8 hex digits of md5('shuffle:' || doc_id) as an integer (uniform
# in [0, 2^32)), shard = key % SHUFFLE_SHARDS, and the position within a
# shard is the rank by (key, doc_id).

SHUFFLE_SHARDS = 8
# Sub-buckets for the distributed ranking (see docstring). Order-aligned
# with the key: sub = key * SUB // 2^32 is monotone in key, so ranking by
# (sub, key) == ranking by key. At 100 TB the knob is sized so
# corpus / (SHARDS * SUB) rows fit one task's sort buffer.
SHUFFLE_SUB = 16

SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::UBIGINT AS shuffle_key
  FROM documents
)
SELECT doc_id,
       CAST(shuffle_key AS BIGINT) AS shuffle_key,
       CAST(shuffle_key % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
              PARTITION BY shuffle_key % {SHUFFLE_SHARDS}
              ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard
FROM keyed
"""


@query("training_shuffle_shards", oracle=SHUFFLE_ORACLE)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for a training export: every document
    gets a shard (hash-uniform across {SHUFFLE_SHARDS}) and an exact
    1-based position within its shard — the (shard, pos) order IS the
    reproducible shuffled read order, stable across engines, reruns, and
    cluster sizes (unlike df.sample / repartition-by-random, which are
    partition-order dependent).

    The in-shard rank is computed with the two-level DISTRIBUTED ranking
    a 100 TB export needs — a naive ``row_number() OVER (PARTITION BY
    shard)`` sorts corpus/{SHUFFLE_SHARDS} rows in ONE task per shard
    (the same single-task straggler the round-7 inverted-index fix
    removed). Instead: (1) each key maps to an order-aligned sub-bucket
    (key * {SHUFFLE_SUB} // 2^32, monotone in key); (2) a tiny
    ({SHUFFLE_SHARDS} x {SHUFFLE_SUB}-row) count table prefix-sums into
    per-(shard, sub) offsets; (3) rank-within-sub windows sort only
    corpus/({SHUFFLE_SHARDS}*{SHUFFLE_SUB}) rows per task, and
    pos = offset + rank. The offset table broadcasts; no task ever
    sorts a full shard. The oracle computes the same positions with the
    naive single-window formulation — equality of the two IS the
    correctness proof of the decomposition.

    Reference parity: the reference shuffles its MR map output into R
    reducer partitions by key hash (``mapred/partition.go``); this is
    that same move made deterministic end-to-end and given a total
    order."""
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("shuffle:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("shuffle_key"),
    ).select(
        "doc_id",
        "shuffle_key",
        (F.col("shuffle_key") % SHUFFLE_SHARDS).alias("shard"),
        # key < 2^32 so key * SUB fits a long with room to spare;
        # integer DIV keeps the bucketing exact at any width
        F.expr(f"(shuffle_key * {SHUFFLE_SUB}) DIV 4294967296").alias("sub"),
    )
    counts = keyed.groupBy("shard", "sub").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_off = (
        Window.partitionBy("shard")
        .orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "shard", "sub", (F.sum("n").over(w_off) - F.col("n")).alias("off")
    )
    w_rank = Window.partitionBy("shard", "sub").orderBy(
        "shuffle_key", "doc_id"
    )
    return (
        keyed.withColumn("rank_in_sub", F.row_number().over(w_rank))
        .join(F.broadcast(offsets), ["shard", "sub"])
        .select(
            "doc_id",
            "shuffle_key",
            "shard",
            (F.col("off") + F.col("rank_in_sub")).alias("pos_in_shard"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-space drift monitoring: per-dimension distribution stats
# --------------------------------------------------------------------------

DIM_STATS_ORACLE = """
WITH x AS (
  SELECT r.i - 1 AS dim, CAST(embedding[r.i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) r(i)
)
SELECT dim, COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*), 6)
         AS mean_v,
       ROUND((CAST(SUM(CAST(v * v AS DECIMAL(28,18))) AS DOUBLE)
              - CAST(SUM(CAST(v AS DECIMAL(28,18))) AS DOUBLE)
                * CAST(SUM(CAST(v AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*))
             / COUNT(*), 6) AS var_v,
       ROUND(MIN(v), 6) AS min_v,
       ROUND(MAX(v), 6) AS max_v
FROM x GROUP BY dim
"""


@query("embedding_dim_stats", oracle=DIM_STATS_ORACLE)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance/min/max over the whole embedding
    table — the drift dashboard an embedding pipeline monitors between
    model versions (a dimension whose variance collapses or whose range
    explodes signals a degenerate encoder or a preprocessing bug), and
    the normalization table a quantizer (``embedding_quantize_int8``)
    calibrates from.

    Plan: posexplode -> one shuffle on the 64-value dim key with
    map-side partial aggregation — the 64x inflation collapses to 64
    output rows. Determinism: both moment sums are exact DECIMAL (order-
    free), and the variance is the fixed textual expression
    (ss - s*s/n)/n evaluated in IEEE doubles identically on both
    engines; min/max of doubles are order-free by definition."""
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    n = F.count(F.lit(1))
    s = F.sum(F.col("v").cast("decimal(28,18)")).cast("double")
    ss = F.sum((F.col("v") * F.col("v")).cast("decimal(28,18)")).cast("double")
    return x.groupBy("dim").agg(
        n.alias("n_vecs"),
        F.round(s / n, 6).alias("mean_v"),
        F.round((ss - s * s / n) / n, 6).alias("var_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


# --------------------------------------------------------------------------
# T5/UL2-style span-corruption planning: deterministic mask layout
# --------------------------------------------------------------------------

SPAN_START_MOD = 20  # a position starts a span iff hash % 20 == 0 (~5%)
SPAN_LEN_BASE = 2  # span length = 2 + hash % 3, i.e. {2,3,4}, mean 3

_SPAN_H_SPARK = (
    "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':{salt}:',"
    " CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT)"
)
_SPAN_H_DUCK = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{salt}:'"
    " || CAST(i AS VARCHAR)), 1, 15))::UBIGINT"
)

SPAN_PLAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split({_NORM_DUCK}, ' '), x -> x <> ''))
           AS n
  FROM documents
),
m AS (
  SELECT doc_id, n,
    list_transform(range(1, n + 1),
      i -> {_SPAN_H_DUCK.format(salt='S')} % {SPAN_START_MOD} = 0) AS s,
    list_transform(range(1, n + 1),
      i -> {SPAN_LEN_BASE} + CAST({_SPAN_H_DUCK.format(salt='L')} % 3
                                  AS BIGINT)) AS l
  FROM t
),
mk AS (
  SELECT doc_id, n,
    list_transform(range(1, n + 1), i ->
      len(list_filter(range(greatest(1, i - {SPAN_LEN_BASE + 1}), i + 1),
          j -> s[CAST(j AS INT)]
               AND j + l[CAST(j AS INT)] - 1 >= i)) > 0) AS masked
  FROM m
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  CAST(len(list_filter(masked, x -> x)) AS BIGINT) AS n_masked,
  CAST(len(list_filter(range(1, n + 1),
       i -> masked[CAST(i AS INT)]
            AND (i = 1 OR NOT masked[CAST(i AS INT) - 1])))
       AS BIGINT) AS n_spans,
  ROUND(len(list_filter(masked, x -> x)) * 1.0 / NULLIF(n, 0), 6)
    AS mask_ratio
FROM mk
"""


@query("span_corruption_plan", oracle=SPAN_PLAN_ORACLE)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption PLANNING: decide, deterministically
    and reproducibly, which token spans of each document a denoising
    pretrain run will mask — ~5% of positions start a span (md5-hash
    gate), span lengths in {{2,3,4}} (mean 3, so ~15% of tokens mask),
    overlapping spans merge. Emits per-doc token count, masked-token
    count, MERGED span count, and the realized mask ratio — the audit
    table that budgets denoising targets before any tensor is built,
    and (because the layout is a pure hash of (doc_id, position)) the
    same plan every epoch/restart reproduces without storing masks.

    All layout decisions are md5-derived integers (the engine-portable
    hash family), span membership is a bounded in-row window test
    (each position checks at most SPAN_LEN_BASE+2 predecessors), and
    the merged-span count is a boundary count — zero shuffles, zero
    joins, exact integers plus one rounded division. The corruption
    RATE is tuned by SPAN_START_MOD exactly like production span
    samplers tune their Poisson rate.

    r15 (guide §2.5): the two md5 gates cost 2 hashes PER TOKEN POSITION
    (~2.5 M md5s at sf0.1), and every one of them pipelines into the
    scan stage — one task on a single-row-group gate file while 31 cores
    idle. spread_frame round-robins the 5 k doc rows across the session's
    cores before the per-position transforms (no-op at real corpus
    scale); measured 73.5 s -> 4.3 s at sf0.1 (17x)."""
    docs = spread_frame(table(spark, sf_dir, "documents"))
    hs = _SPAN_H_SPARK.format(salt="S")
    hl = _SPAN_H_SPARK.format(salt="L")
    t = docs.select(
        "doc_id",
        F.expr(
            f"size(filter(split({_NORM_SPARK}, ' '), x -> x <> ''))"
        ).alias("n"),
    )
    # every sequence(1, n) is guarded for n = 0: Spark's sequence(1, 0)
    # is DESCENDING [1, 0] (the documented pmi_collocations trap), so an
    # empty document would probe element_at(..., 0) and throw under ANSI
    m = t.select(
        "doc_id",
        "n",
        F.expr(
            f"IF(n < 1, array(), "
            f"transform(sequence(1, n), i -> {hs} % {SPAN_START_MOD} = 0))"
        ).alias("s"),
        F.expr(
            f"IF(n < 1, array(), "
            f"transform(sequence(1, n), i -> {SPAN_LEN_BASE} + {hl} % 3))"
        ).alias("l"),
    )
    mk = m.select(
        "doc_id",
        "n",
        F.expr(
            f"IF(n < 1, array(), transform(sequence(1, n), i -> "
            f"exists(sequence(greatest(1, i - {SPAN_LEN_BASE + 1}), i), j -> "
            f"element_at(s, j) AND j + element_at(l, j) - 1 >= i)))"
        ).alias("masked"),
    )
    return mk.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.expr("size(filter(masked, x -> x))").cast("long").alias("n_masked"),
        F.expr(
            "IF(n < 1, 0, size(filter(sequence(1, n), i ->"
            " element_at(masked, i)"
            " AND (i = 1 OR NOT element_at(masked, i - 1)))))"
        )
        .cast("long")
        .alias("n_spans"),
        F.round(
            F.expr("size(filter(masked, x -> x))")
            * 1.0
            / F.nullif(F.col("n"), F.lit(0)),
            6,
        ).alias("mask_ratio"),
    )


# --------------------------------------------------------------------------
# Shard integrity manifest: the checksum table a trainer verifies on load
# --------------------------------------------------------------------------

MANIFEST_MOD = (1 << 61) - 1  # order-free checksum modulus

SHARD_MANIFEST_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::UBIGINT % {SHUFFLE_SHARDS} AS shard,
         length(text) AS n_chars,
         len(list_filter(string_split({_NORM_DUCK}, ' '), x -> x <> ''))
           AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))
           ::UBIGINT % {MANIFEST_MOD} AS row_digest
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(row_digest) % {MANIFEST_MOD} AS BIGINT) AS content_checksum
FROM keyed
GROUP BY shard
"""


@query("training_shard_manifest", oracle=SHARD_MANIFEST_ORACLE)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity manifest for the training shards
    (``training_shuffle_shards``' assignment): per shard, document and
    token totals plus an ORDER-FREE content checksum — the sum mod a
    Mersenne prime of per-row (doc_id, text) digests. A trainer (or a
    re-run of the sharding job) recomputes the same five numbers per
    shard and any dropped, duplicated, truncated, or corrupted document
    flips the checksum — the distributed analogue of the reference's
    per-chunk md5 sidecars (``sn/dfs_actions.go`` verifies chunk
    digests at read; here the unit is the logical shard, the 100 TB
    artifact a data-loading fleet actually validates against).

    Determinism + scale: the checksum must be ORDER-FREE because shard
    contents have no canonical order until the trainer sorts — modular
    addition of md5-derived integers is commutative and partial-
    aggregates (map-side combine), so the manifest costs one scan and
    one |shards|-keyed exchange. All exact integer arithmetic."""
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        (
            F.expr(
                "CAST(conv(substr(md5(concat('shuffle:',"
                " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
            % SHUFFLE_SHARDS
        ).alias("shard"),
        F.length("text").alias("n_chars"),
        F.expr(
            f"size(filter(split({_NORM_SPARK}, ' '), x -> x <> ''))"
        ).alias("n_tokens"),
        (
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',"
                " text)), 1, 15), 16, 10) AS BIGINT)"
            )
            % MANIFEST_MOD
        ).alias("row_digest"),
    )
    return keyed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # the digest sum exceeds int64 (n_docs x 2^61): accumulate in
        # DECIMAL(38,0) (exact, order-free) and reduce mod once at emit
        (F.sum(F.col("row_digest").cast("decimal(38,0)")) % MANIFEST_MOD)
        .cast("long")
        .alias("content_checksum"),
    )


# --------------------------------------------------------------------------
# z-order data-layout audit (multi-dimensional clustering for pruning)
# --------------------------------------------------------------------------
#
# The Delta/Iceberg OPTIMIZE ZORDER question, answered with numbers: if
# the orders table were laid out in 64 files sorted by the bit-interleaved
# (custkey, orderdate) Morton key instead of by orderdate alone, how many
# files would a 2-D box predicate actually have to scan under standard
# min/max (parquet row-group / file-footer) pruning? Everything is integer
# arithmetic — rank-normalize each dimension to 16 bits with min/max from
# the data, interleave to a 32-bit z-value, ntile into files, then model
# the pruning decision per file — so the audit carries a full-value oracle.

ZORDER_BITS = 16
ZORDER_FILES = 64


def _zorder_interleave_duck(a: str, b: str) -> str:
    """Morton interleave in SQL: bit i of ``a`` lands at 2i, bit i of
    ``b`` at 2i+1."""
    return " + ".join(
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(ZORDER_BITS)
    )


def _zorder_interleave_spark(a, b):
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


ZORDER_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey AS c,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d
  FROM orders),
stats AS (
  SELECT min(c) AS cmin, max(c) AS cmax, min(d) AS dmin, max(d) AS dmax
  FROM base),
keyed AS (
  SELECT o_orderkey, c, d,
         ((c - cmin) * 65536) // (cmax - cmin + 1) AS cb,
         ((d - dmin) * 65536) // (dmax - dmin + 1) AS db,
         cmin AS qc_lo,
         cmin + (cmax - cmin + 1) // 8 - 1 AS qc_hi,
         dmin + (dmax - dmin + 1) // 4 AS qd_lo,
         dmin + (dmax - dmin + 1) // 4 + (dmax - dmin + 1) // 8 - 1 AS qd_hi
  FROM base, stats),
placed AS (
  SELECT *,
         ntile({ZORDER_FILES}) OVER (ORDER BY z, o_orderkey) AS file_z,
         ntile({ZORDER_FILES}) OVER (ORDER BY d, o_orderkey) AS file_lin
  FROM (SELECT *, {_zorder_interleave_duck("cb", "db")} AS z FROM keyed)),
both_layouts AS (
  SELECT 'zorder' AS layout, file_z AS file_id, c, d,
         qc_lo, qc_hi, qd_lo, qd_hi FROM placed
  UNION ALL
  SELECT 'linear', file_lin, c, d, qc_lo, qc_hi, qd_lo, qd_hi FROM placed),
per_file AS (
  SELECT layout, file_id, count(*) AS n_rows,
         min(c) AS mc, max(c) AS xc, min(d) AS md, max(d) AS xd,
         min(qc_lo) AS qc_lo, min(qc_hi) AS qc_hi,
         min(qd_lo) AS qd_lo, min(qd_hi) AS qd_hi,
         sum(CASE WHEN c BETWEEN qc_lo AND qc_hi
                   AND d BETWEEN qd_lo AND qd_hi THEN 1 ELSE 0 END) AS matched
  FROM both_layouts GROUP BY layout, file_id)
SELECT layout,
  CAST(count(*) AS INTEGER) AS files_total,
  CAST(sum(CASE WHEN xc >= qc_lo AND mc <= qc_hi
                 AND xd >= qd_lo AND md <= qd_hi
            THEN 1 ELSE 0 END) AS INTEGER) AS files_scanned,
  CAST(sum(n_rows) AS BIGINT) AS rows_total,
  CAST(sum(CASE WHEN xc >= qc_lo AND mc <= qc_hi
                 AND xd >= qd_lo AND md <= qd_hi
            THEN n_rows ELSE 0 END) AS BIGINT) AS rows_in_scanned_files,
  CAST(sum(matched) AS BIGINT) AS rows_matched
FROM per_file GROUP BY layout
"""


@query("zorder_layout_audit", oracle=ZORDER_ORACLE)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify what OPTIMIZE ZORDER would buy: lay orders out two ways —
    64 files clustered by the Morton (bit-interleaved) key of
    (o_custkey, o_orderdate) vs 64 files sorted by orderdate alone — and
    model standard min/max file pruning for a 2-D box predicate (a 12.5%
    custkey band x a 12.5% date band). Output per layout: files scanned,
    rows read, rows actually matching. The linear layout prunes on the
    date dimension only (every file spans all custkeys), so it reads
    ~12.5% of the table; the z-order layout localizes BOTH dimensions, so
    the same predicate touches a handful of files — the measured gap IS
    the case for multi-dimensional clustering keys at 100 TB, where
    "files scanned" is the dominant cost of every selective query.

    Scale: the audit itself uses ntile over a global order for exact,
    oracle-checkable file assignment; the production layout step is
    df.repartitionByRange(N, z).sortWithinPartitions(z) — same file
    boundaries, fully distributed, one range-exchange. Dimension
    normalization is rank-to-16-bits with exact integer arithmetic, so
    the audit is engine-portable bit for bit."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("c"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast(
            "long"
        ).alias("d"),
    )
    stats = base.agg(
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
    )
    # integer DIV end to end (a double quotient + truncating cast can
    # round up across an integer boundary once (v - vmin) * 65536 nears
    # 2^53 — exact on the fixture but not portable at bigint spans)
    keyed = base.crossJoin(F.broadcast(stats)).selectExpr(
        "o_orderkey",
        "c",
        "d",
        "((c - cmin) * 65536) DIV (cmax - cmin + 1) AS cb",
        "((d - dmin) * 65536) DIV (dmax - dmin + 1) AS db",
        "cmin AS qc_lo",
        "cmin + (cmax - cmin + 1) DIV 8 - 1 AS qc_hi",
        "dmin + (dmax - dmin + 1) DIV 4 AS qd_lo",
        "dmin + (dmax - dmin + 1) DIV 4 + (dmax - dmin + 1) DIV 8 - 1 AS qd_hi",
    )
    zval = keyed.withColumn(
        "z", _zorder_interleave_spark(F.col("cb"), F.col("db"))
    )
    placed = zval.select(
        "*",
        F.ntile(ZORDER_FILES)
        .over(Window.orderBy(F.col("z").asc(), F.col("o_orderkey").asc()))
        .alias("file_z"),
        F.ntile(ZORDER_FILES)
        .over(Window.orderBy(F.col("d").asc(), F.col("o_orderkey").asc()))
        .alias("file_lin"),
    )
    # single-lineage melt: a unionByName of two projections of `placed`
    # would duplicate the whole lineage (two table scans + two stats
    # branches); stack() emits both layout rows from ONE pass
    both = placed.selectExpr(
        "stack(2, 'zorder', file_z, 'linear', file_lin) AS (layout, file_id)",
        "c",
        "d",
        "qc_lo",
        "qc_hi",
        "qd_lo",
        "qd_hi",
    )
    is_match = F.col("c").between(F.col("qc_lo"), F.col("qc_hi")) & F.col(
        "d"
    ).between(F.col("qd_lo"), F.col("qd_hi"))
    per_file = both.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c").alias("mc"),
        F.max("c").alias("xc"),
        F.min("d").alias("md"),
        F.max("d").alias("xd"),
        F.min("qc_lo").alias("qc_lo"),
        F.min("qc_hi").alias("qc_hi"),
        F.min("qd_lo").alias("qd_lo"),
        F.min("qd_hi").alias("qd_hi"),
        F.sum(F.when(is_match, 1).otherwise(0)).alias("matched"),
    )
    overlap = (
        (F.col("xc") >= F.col("qc_lo"))
        & (F.col("mc") <= F.col("qc_hi"))
        & (F.col("xd") >= F.col("qd_lo"))
        & (F.col("md") <= F.col("qd_hi"))
    )
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("int").alias("files_total"),
        F.sum(F.when(overlap, 1).otherwise(0)).cast("int").alias("files_scanned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(overlap, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_in_scanned_files"),
        F.sum("matched").cast("long").alias("rows_matched"),
    )


# --------------------------------------------------------------------------
# bloom-filter data-skipping audit (the point-lookup complement)
# --------------------------------------------------------------------------
#
# zorder_layout_audit models min/max pruning for RANGE predicates; this is
# the other half of the data-skipping story: for a point lookup on a
# high-cardinality key scattered across files (custkey in a date-sorted
# layout), min/max footers prune almost nothing — every file's
# [min, max] spans most of the key space — while a small per-file Bloom
# filter prunes to the files that actually contain the key plus a bounded
# false-positive tail. Deterministic md5 bit positions make the whole
# construct engine-portable, so the audit carries a full-value oracle.

BLOOM_BITS = 4096
BLOOM_HASHES = 3
BLOOM_FILES = 64  # date-sorted layout, same ntile shape as the z-order audit
BLOOM_PROBES = 16  # probe keys p * 71 % 1500, p = 1..16


def _bloom_pos_duck(j: str, key: str) -> str:
    return (
        f"('0x' || substr(md5('bloom:' || CAST({j} AS VARCHAR) || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 8))::UBIGINT % {BLOOM_BITS}"
    )


def _bloom_pos_spark(j, key) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bloom:"),
                    j.cast("string"),
                    F.lit(":"),
                    key.cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % BLOOM_BITS


BLOOM_ORACLE = f"""
WITH placed AS (
  SELECT o_custkey AS c,
         ntile({BLOOM_FILES}) OVER (ORDER BY o_orderdate, o_orderkey) AS file_id
  FROM orders),
file_stats AS (
  SELECT file_id, min(c) AS mc, max(c) AS xc FROM placed GROUP BY file_id),
bloom AS (
  SELECT DISTINCT file_id, {_bloom_pos_duck("j", "c")} AS bitpos
  FROM placed, range(0, {BLOOM_HASHES}) r(j)),
probes AS (
  SELECT p * 71 % 1500 AS probe_key FROM range(1, {BLOOM_PROBES} + 1) r(p)),
probe_bits AS (
  SELECT probe_key, j, {_bloom_pos_duck("j", "probe_key")} AS bitpos
  FROM probes, range(0, {BLOOM_HASHES}) r(j)),
bloom_pass AS (
  SELECT pb.probe_key, b.file_id
  FROM probe_bits pb JOIN bloom b
    ON pb.bitpos = b.bitpos
  GROUP BY pb.probe_key, b.file_id
  HAVING count(DISTINCT pb.j) = {BLOOM_HASHES}),
actual AS (
  SELECT p.probe_key, count(DISTINCT placed.file_id) AS n_actual
  FROM probes p LEFT JOIN placed ON placed.c = p.probe_key
  GROUP BY p.probe_key),
minmax_pass AS (
  SELECT p.probe_key, count(*) AS n_minmax
  FROM probes p JOIN file_stats f
    ON p.probe_key BETWEEN f.mc AND f.xc
  GROUP BY p.probe_key)
SELECT p.probe_key,
       CAST(coalesce(a.n_actual, 0) AS INTEGER) AS n_files_actual,
       CAST(coalesce(bp.n_bloom, 0) AS INTEGER) AS n_files_bloom,
       CAST(coalesce(m.n_minmax, 0) AS INTEGER) AS n_files_minmax
FROM probes p
LEFT JOIN actual a ON a.probe_key = p.probe_key
LEFT JOIN (SELECT probe_key, count(*) AS n_bloom FROM bloom_pass
           GROUP BY probe_key) bp ON bp.probe_key = p.probe_key
LEFT JOIN minmax_pass m ON m.probe_key = p.probe_key
"""


@query("bloom_skipping_audit", oracle=BLOOM_ORACLE)
def bloom_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify per-file Bloom-filter data skipping for point lookups —
    the case min/max footers cannot help: in a date-sorted 64-file
    layout every file spans most of the custkey space, so a point probe
    passes the min/max check in ~all files, while a 4096-bit/3-hash
    Bloom per file admits only the true containing files plus a bounded
    false-positive tail. Output per probe key: files actually containing
    it, files the Bloom would scan, files a min/max check would scan —
    the measured gap IS the case for Bloom footers (parquet
    bloom_filter_enabled, Delta/Iceberg bloom columns) on join/lookup
    keys at 100 TB.

    Scale: the Bloom build is one exchange — explode keys x 3 hash
    seeds, distinct (file, bitpos) — and its output is bounded by
    files x bits (64 x 4096 here), independent of row count; probes and
    per-file stats are tiny broadcasts. The audit's ntile layout is the
    oracle-exact stand-in for real file boundaries, as in
    zorder_layout_audit."""
    o = table(spark, sf_dir, "orders")
    placed = o.select(
        F.col("o_custkey").alias("c"),
        F.ntile(BLOOM_FILES)
        .over(Window.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
        .alias("file_id"),
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1))).alias("j")
    bloom = (
        placed.select("file_id", "c")
        .select("file_id", "c", js)
        .select(
            "file_id", _bloom_pos_spark(F.col("j"), F.col("c")).alias("bitpos")
        )
        .distinct()
    )
    file_stats = placed.groupBy("file_id").agg(
        F.min("c").alias("mc"), F.max("c").alias("xc")
    )
    probes = spark.range(1, BLOOM_PROBES + 1).select(
        (F.col("id") * 71 % 1500).alias("probe_key")
    )
    probe_bits = probes.select("probe_key", js).select(
        "probe_key",
        "j",
        _bloom_pos_spark(F.col("j"), F.col("probe_key")).alias("bitpos"),
    )
    bloom_pass = (
        F.broadcast(probe_bits)
        .join(bloom, "bitpos")
        .groupBy("probe_key", "file_id")
        .agg(F.countDistinct("j").alias("nj"))
        .where(F.col("nj") == BLOOM_HASHES)
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).alias("n_bloom"))
    )
    actual = (
        F.broadcast(probes)
        .join(placed, probes.probe_key == placed.c, "left")
        .groupBy("probe_key")
        .agg(F.countDistinct("file_id").alias("n_actual"))
    )
    minmax_pass = (
        F.broadcast(probes)
        .join(
            file_stats,
            F.col("probe_key").between(F.col("mc"), F.col("xc")),
        )
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).alias("n_minmax"))
    )
    return (
        probes.join(actual, "probe_key", "left")
        .join(bloom_pass, "probe_key", "left")
        .join(minmax_pass, "probe_key", "left")
        .select(
            "probe_key",
            F.coalesce(F.col("n_actual"), F.lit(0)).cast("int").alias(
                "n_files_actual"
            ),
            F.coalesce(F.col("n_bloom"), F.lit(0)).cast("int").alias(
                "n_files_bloom"
            ),
            F.coalesce(F.col("n_minmax"), F.lit(0)).cast("int").alias(
                "n_files_minmax"
            ),
        )
    )

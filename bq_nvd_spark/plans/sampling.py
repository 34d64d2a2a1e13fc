"""Reproducible sampling, splitting, packing, and decontamination — the
selection layer of a training-data pipeline.

A corpus pipeline needs three guarantees no RAND() gives:
- the SAME rows are sampled on every run, on any cluster layout
  (resumable jobs, auditable experiments);
- train/val/test membership is a pure function of the row key (a
  document can never migrate between splits when data is re-sharded);
- packed-sequence boundaries are a pure function of the ordered corpus
  (re-running tokenization yields identical chunks).

All three reduce to integer math both engines compute identically:
md5-bucket hashing (first 4 hex chars → 0..65535, Spark ``conv`` ==
DuckDB ``CAST('0x'||h …)``) and windowed integer cumsums.

Scale notes (100 TB): bucket assignment is a per-row projection — the
sample/split queries shuffle only for the final census. Packing cumsums
run per ``source`` partition (each source packs independently), so the
window never degenerates to a single global sort; at petabyte scale the
partition key would be a shard id with the same plan shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from bq_nvd_spark.operators.text import word_bigrams
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table

#: md5-bucket space: first 4 hex chars of md5(doc_id) → [0, 65536).
N_BUCKETS = 1 << 16
TRAIN_END = int(N_BUCKETS * 0.8)  # [0, 80%) → train
VAL_END = int(N_BUCKETS * 0.9)  # [80%, 90%) → val; rest → test
SAMPLE_END = int(N_BUCKETS * 0.2)  # 20% reproducible sample

_DUCK_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"
)


def _spark_bucket() -> "F.Column":
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")


# --------------------------------------------------------------------------
# Deterministic train/val/test split: membership is a pure function of
# doc_id, so re-sharding or re-running can never move a document across
# the split boundary. Census per (lang, split).
@query(
    "train_val_test_split",
    oracle=f"""
    WITH b AS (
      SELECT lang, {_DUCK_BUCKET} AS bucket FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < {TRAIN_END} THEN 'train'
                WHEN bucket < {VAL_END} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM b
    GROUP BY 1, 2
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _spark_bucket()
    split = (
        F.when(bucket < TRAIN_END, "train")
        .when(bucket < VAL_END, "val")
        .otherwise("test")
    )
    return docs.select("lang", split.alias("split")).groupBy(
        "lang", "split"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# Reproducible 20% sample: the sampled rows themselves (id-stable, so a
# resumed job re-selects exactly these documents).
@query(
    "deterministic_sample_docs",
    oracle=f"""
    SELECT doc_id, lang, {_DUCK_BUCKET} AS bucket
    FROM documents
    WHERE {_DUCK_BUCKET} < {SAMPLE_END}
    """,
)
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _spark_bucket()
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < SAMPLE_END
    )


# --------------------------------------------------------------------------
# Deterministic stratified sample: a fixed-size per-stratum draw (the
# "give me K docs from EVERY language" shape rate-based sampling can't
# guarantee for rare strata). Order within a stratum is the md5 of the
# row key — a deterministic shuffle both engines compute identically —
# so the draw is uniform-ish, id-stable, and re-runnable. Scale shape:
# one window per stratum key; strata are languages (hundreds), so the
# partition-by never degenerates to a global sort, and a skewed giant
# stratum still only pays a top-K per partition (rank truncation, no
# full sort materialization).
STRATUM_K = 5


@query(
    "stratified_sample_per_lang",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {STRATUM_K}
    """,
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= STRATUM_K)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Concat-then-chunk sequence packing: per source, documents concatenate
# in doc_id order into one token stream that is cut every PACK_BUDGET
# tokens (how packed pre-training batches are built). Each document's
# start offset is the windowed cumsum of the tokens before it; the
# chunks it spans follow by integer division — so chunk boundaries are
# a pure function of the ordered corpus. Integer math end to end.
PACK_BUDGET = 512


@query(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    offsets AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens
                  AS BIGINT) AS start_offset
      FROM toks
    )
    SELECT source, doc_id, n_tokens, start_offset,
           CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS first_chunk,
           CAST((start_offset + n_tokens - 1) // {PACK_BUDGET} AS BIGINT)
             AS last_chunk
    FROM offsets
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return offsets.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / PACK_BUDGET)
        .cast("long")
        .alias("first_chunk"),
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / PACK_BUDGET)
        .cast("long")
        .alias("last_chunk"),
    )


# --------------------------------------------------------------------------
# Decontamination: which candidate-split documents share verbatim
# n-grams with the held-out split — the overlap check run before
# training so eval data can't leak into the training set. Standard
# hygiene both engines mirror exactly:
# - exact duplicates collapse to their min-id representative first
#   (identical boilerplate would otherwise emit quadratic pairs);
# - n-grams occurring in more than GRAM_DOC_CAP distinct documents are
#   dropped (ubiquitous phrases carry no contamination signal — and the
#   cap is what bounds the join fan-out at corpus scale);
# - a pair must share at least MIN_SHARED distinct grams to count.
DECON_N = 5  # n-gram length (tokens)
GRAM_DOC_CAP = 50
MIN_SHARED = 3

_DUCK_DECON_GRAMS = f"""
    reps AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    grams AS (
      SELECT d.doc_id,
             UNNEST(list_distinct(list_transform(
               range(1, len(string_split(d.text, ' ')) - {DECON_N - 2}),
               i -> md5(list_aggregate(
                      string_split(d.text, ' ')[i:i + {DECON_N - 1}],
                      'string_agg', ' '))
             ))) AS gram
      FROM documents d JOIN reps r ON r.doc_id = d.doc_id
      WHERE len(string_split(d.text, ' ')) >= {DECON_N}
    ),
    rare AS (
      SELECT gram FROM grams
      GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) <= {GRAM_DOC_CAP}
    )
"""


@pandas_udf(ArrayType(StringType()))
def _decon_grams_np(texts: "pd.Series") -> "pd.Series":
    """Arrow kernel for the distinct n-gram md5 set of a document —
    bit-identical to md5(concat_ws(' ', n-token window)) and to the
    oracle's list_aggregate/string_agg form (same joined bytes). Window
    digests are memoized per batch; n-gram windows repeat across a
    corpus the same Zipfian way tokens do."""
    import hashlib

    cache: dict[str, str] = {}
    out = []
    for text in texts:
        ts = text.split(" ")
        seen = set()
        for i in range(len(ts) - DECON_N + 1):
            w = " ".join(ts[i : i + DECON_N])
            d = cache.get(w)
            if d is None:
                d = hashlib.md5(w.encode()).hexdigest()
                cache[w] = d
            seen.add(d)
        out.append(sorted(seen))
    return pd.Series(out)


def _decon_gram_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gram) — each exact-dup representative's distinct
    DECON_N-gram md5 set. Gram build is the CPU-bound stage: spread
    across cores (the toy single-file table would feed one Arrow
    worker), run the hashlib kernel, and materialize. Memoized via
    ``shared_stage`` so its two consumers (the pairwise overlap query
    and the Bloom census) pay the 250k-window md5 build once per
    session."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        reps = docs.groupBy(F.md5("text")).agg(
            F.min("doc_id").alias("doc_id")
        )
        toks = F.split("text", " ")
        return (
            docs.join(reps.select("doc_id"), "doc_id")
            .filter(F.size(toks) >= DECON_N)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .select(
                "doc_id", F.explode(_decon_grams_np("text")).alias("gram")
            )
        )

    return shared_stage(spark, ("decon_grams", sf_dir), build)



@query(
    "decontamination_overlaps",
    oracle=f"""
    WITH {_DUCK_DECON_GRAMS},
    labeled AS (
      SELECT g.doc_id, g.gram,
             {_DUCK_BUCKET.replace('doc_id', 'g.doc_id')} >= {VAL_END} AS held_out
      FROM grams g JOIN rare USING (gram)
    )
    SELECT h.doc_id AS eval_doc, t.doc_id AS train_doc,
           COUNT(DISTINCT h.gram) AS n_shared
    FROM labeled h
    JOIN labeled t ON t.gram = h.gram
    WHERE h.held_out AND NOT t.held_out
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT h.gram) >= {MIN_SHARED}
    """,
)
def decontamination_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _decon_gram_rel(spark, sf_dir)
    rare = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") <= GRAM_DOC_CAP)
        .select("gram")
    )
    held_out = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        >= VAL_END
    )
    labeled = grams.join(rare, "gram").select(
        "doc_id", "gram", held_out.alias("held_out")
    )
    h = labeled.filter("held_out").select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    t = labeled.filter(~F.col("held_out")).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    # (doc_id, gram) is UNIQUE by construction (_decon_grams_np emits
    # each document's distinct gram SET), so every (eval_doc,
    # train_doc, gram) join row is unique and COUNT(*) == COUNT
    # (DISTINCT gram) exactly — the plain count drops the distinct
    # aggregate's extra phase (optimization round 17; the oracle keeps
    # COUNT(DISTINCT) as the spec and the hash compare pins equality).
    return (
        h.join(t, "gram")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
# each row draws a deterministic uniform u from its md5 bucket and gets
# the key ln(u)/weight; the K largest keys ARE a weighted sample without
# replacement. Everything a mixture-resampling job needs and RAND()
# denies: the same K documents come back on every run, on any cluster
# layout, yet long documents (weight = n_chars) are proportionally more
# likely to be drawn.
#
# Scale shape: the key is a per-row projection (no shuffle), and the
# global top-K compiles to TakeOrderedAndProject — per-partition heaps of
# size K merged on the driver, never a full sort of the corpus. The float
# key is used only for ordering and never emitted, so the driver hash
# covers membership, not engine libm bit patterns.
WEIGHTED_K = 100


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             ln(({_DUCK_BUCKET} + 1) / 65536.0) / n_chars AS k
      FROM documents
    )
    ORDER BY k DESC, doc_id
    LIMIT {WEIGHTED_K}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (_spark_bucket() + F.lit(1)) / F.lit(65536.0)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(WEIGHTED_K)
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# E6+: mixture RESAMPLING — sample the corpus DOWN to a target source
# mixture (the data-recipe step every pretraining pipeline runs before
# tokenization: "50% web, 30% books, 20% code" from whatever the crawl
# delivered). The target is the largest corpus achievable at the exact
# proportions: capacity T = min_s ⌊n_s·Σw/w_s⌋ (the scarcest source
# binds), per-source quota k_s = ⌊w_s·T/Σw⌋ — all integer math, so
# both engines agree exactly. WHICH docs fill each quota is a pure
# function of the row key: rank by md5('mix:'||doc_id) within source,
# keep the first k_s — same rows on every run, any cluster layout.
#
# Scale shape: TWO corpus scans total — the per-source census and the
# ranked selection. Every derived scalar (Σw, capacity T, quotas) is
# computed with unpartitioned window aggregates OVER THE CENSUS — a
# |sources|-row relation, the benign aggregated-series case — so the
# quota subtree never re-reads the corpus. Ranking is a window
# PARTITIONED BY source (never a global sort — each source's rank task
# sees only its own rows, and a source too large for one task would
# shard the same plan on (source, shard)); the quota relation is
# aggregate-bounded (broadcast hint, classified in
# scripts/broadcast_audit.py); zero UDFs. Weights here derive
# LENIENTLY from the source name's integer suffix (GREATEST(1,
# 1 + suffix%4) — unparsable/overflowing suffixes → weight 1, negative
# suffixes clamped to 1, identical TRY_CAST semantics on both engines)
# purely so the fixture exercises a NON-uniform target; a real run
# passes its recipe as a weights table.
@query(
    "mixture_resample_docs",
    oracle="""
    WITH w AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(GREATEST(
                    1,
                    1 + COALESCE(TRY_CAST(SUBSTR(source, 4) AS INT) % 4, 0)
                  ) AS BIGINT) AS w_s
      FROM documents GROUP BY source
    ),
    quota AS (
      SELECT source, (w_s * t) // sum_w AS k_s
      FROM (
        SELECT source, w_s, sum_w,
               MIN((n_s * sum_w) // w_s) OVER () AS t
        FROM (
          SELECT source, n_s, w_s,
                 CAST(SUM(w_s) OVER () AS BIGINT) AS sum_w
          FROM w
        )
      )
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CONCAT('mix:', CAST(doc_id AS VARCHAR))), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rk <= q.k_s
    """,
)
def mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus resampled to the target source mixture: the largest
    deterministic subset whose per-source share is exactly the target
    weight (integer capacity/quota math; md5-ranked membership)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # full-tail suffix + lenient cast: unparsable/overflowing names get
    # weight 1 on BOTH engines (TRY_CAST NULLs on each; both coalesce
    # to 0) instead of diverging — plain CAST would THROW under Spark's
    # ANSI mode and under DuckDB, but only once malformed data arrived.
    # GREATEST(1, ·) pins negative suffixes too: % keeps the dividend's
    # sign on both engines, so 'src-3' would otherwise yield w_s ≤ 0 —
    # and floor-div (DuckDB //) vs truncating div (Spark div) diverge
    # on negative operands while w_s = 0 divides by zero.
    w_s = F.greatest(
        F.lit(1),
        F.coalesce(
            F.expr("TRY_CAST(substring(source, 4) AS INT)") % 4, F.lit(0)
        )
        + 1,
    ).cast("long")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_s")
    ).withColumn("w_s", w_s)
    # Unpartitioned windows over the |sources|-row census: one subtree,
    # ONE corpus aggregation — the crossJoin-of-aggregates form
    # re-evaluated the census once per derived scalar (5 corpus scans,
    # caught in review).
    wall = Window.partitionBy()
    quota = (
        counts.select(
            "source", "n_s", "w_s",
            F.sum("w_s").over(wall).alias("sum_w"),
        )
        .select(
            "source", "w_s", "sum_w",
            F.min(F.expr("(n_s * sum_w) div w_s")).over(wall).alias("t"),
        )
        .select("source", F.expr("(w_s * t) div sum_w").alias("k_s"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        docs.withColumn("rk", rk)
        .join(F.broadcast(quota), "source")
        .filter(F.col("rk") <= F.col("k_s"))
        .select("doc_id", "source")
    )


# --------------------------------------------------------------------------
# E6+ (round 15): DSIR — Data Selection with Importance Resampling
# (Xie et al. 2023, arXiv:2302.03169) — the standard targeted-data-
# selection operator: estimate a TARGET and a SOURCE distribution over
# hashed n-gram features, weight every raw document by the probability
# ratio p_target(x)/p_source(x), and resample the raw pool
# proportionally to that weight, so documents that "look like" the
# target domain are enriched. Here the target corpus is the train
# split's DSIR_TARGET_LANG documents, the source model is the whole
# train split, and the resampled pool is the held split (val+test) —
# documents that fit neither model, the honest evaluation shape.
#
# Exactness contract: both hashed-unigram+bigram multinomials use
# add-one smoothing over DSIR_BUCKETS buckets; the per-bucket log-
# ratio is computed as the difference of two ln's each quantized to
# integer micro-nats (the repo-wide _micro_ln discipline — both
# engines' libm ln agree to <=1 ulp on identical rationals, the NB/LM
# precedent), so a document's log-weight is an EXACT integer dot
# product Σ_b c_b·λ_b. Resampling is Gumbel-top-K: key = logw_micro +
# G where G = −ln(−ln(u)) for the deterministic per-doc uniform
# u = (md5-bucket('dsir:'||doc_id)+1)/65537 — sampling K docs without
# replacement with probability proportional to the importance weight
# (Gumbel-max trick), yet bit-reproducible on any cluster layout. The
# inner −ln(u) is quantized to integer micro-nats BEFORE the outer ln
# so both engines take ln of identical rationals twice (u < 1 always
# by the 65537 denominator, so neither ln sees 0).
#
# The log-weight is EXTENSIVE in document length (a product over
# feature occurrences, faithful to the paper), so production runs it
# over ~equal-length chunks (compose with the chunking/packing
# operators) — on raw variable-length docs, length differences can
# dominate a weak domain signal. The behavioral test therefore proves
# enrichment on an equal-length two-domain corpus; on the driver
# fixture (five langs sharing one 31-token vocabulary, ~0.003
# nats/token divergence) the queries are exactness-gated only.
#
# Scale shape (100 TB): the model relation is groupBy(fb) over fb =
# md5(feature) mod DSIR_BUCKETS — AT MOST DSIR_BUCKETS rows by
# construction, bounded like the NB vocab cap, so it (and the one-row
# totals) ride broadcasts while the corpus-sized held features reach
# them map-side with zero extra shuffle beyond the per-doc groupBy.
# The train scan runs ONCE (one explode feeding one map-side-combined
# groupBy; target counts are a conditional agg, not a second scan) and
# is stage-checkpointed. Selection is ORDER BY key LIMIT K →
# TakeOrderedAndProject (per-partition heaps, no global sort).
# Reference parity: the reference has no data-selection stage; this is
# part of the driver-mandated LLM-curation extension surface (layer C),
# alongside mixture_resample_docs above.
DSIR_BUCKETS = 4096
DSIR_K = 40
DSIR_TARGET_LANG = "en"

# One micro-nat scale for BOTH the quantized-ln weights and the Gumbel
# keys they are summed with. This MUST equal classify.NB_MICRO (the
# Spark kernel borrows classify._micro_ln, which scales by NB_MICRO,
# while this oracle interpolates _DSIR_MICRO) — a module-level import
# would be circular (classify imports sampling's split constants), so
# _build_dsir_scores asserts the equality at first use instead.
_DSIR_MICRO = 1_000_000


def _dsir_duck_fb(arg: str) -> str:
    return f"CAST(('0x' || substr(md5({arg}), 1, 3)) AS INTEGER)"


_DSIR_ORACLE_PREFIX = f"""
    WITH docs AS (
      SELECT doc_id, lang, text, {_DUCK_BUCKET} AS bucket FROM documents
    ),
    train AS (SELECT * FROM docs WHERE bucket < {TRAIN_END}),
    held AS (SELECT * FROM docs WHERE bucket >= {TRAIN_END}),
    tfeat AS (
      SELECT lang, t.tok AS ft
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM train),
           UNNEST(toks) AS t(tok)
      UNION ALL
      SELECT lang, toks[i] || ' ' || toks[i + 1] AS ft
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM train),
           UNNEST(range(1, len(toks))) AS t(i)
    ),
    model AS (
      SELECT {_dsir_duck_fb("ft")} AS fb,
             CAST(COUNT(*) AS BIGINT) AS cs,
             CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM tfeat GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt,
             CAST(SUM(cs) AS BIGINT) AS ts
      FROM model
    ),
    hfeat AS (
      SELECT doc_id, lang, t.tok AS ft
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM held),
           UNNEST(toks) AS t(tok)
      UNION ALL
      SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS ft
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM held),
           UNNEST(range(1, len(toks))) AS t(i)
    ),
    hb AS (
      SELECT doc_id, lang, {_dsir_duck_fb("ft")} AS fb,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM hfeat GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT h.doc_id, h.lang,
             CAST(SUM(h.c) AS BIGINT) AS n_feats,
             CAST(SUM(h.c * (
               CAST(FLOOR(LN(CAST(COALESCE(m.ct, 0) + 1 AS DOUBLE)
                             / CAST(tot.tt + {DSIR_BUCKETS} AS DOUBLE))
                          * {_DSIR_MICRO} + 0.5) AS BIGINT)
               - CAST(FLOOR(LN(CAST(COALESCE(m.cs, 0) + 1 AS DOUBLE)
                               / CAST(tot.ts + {DSIR_BUCKETS} AS DOUBLE))
                            * {_DSIR_MICRO} + 0.5) AS BIGINT)
             )) AS BIGINT) AS logw_micro
      FROM hb h LEFT JOIN model m ON m.fb = h.fb CROSS JOIN tot
      GROUP BY 1, 2
    )"""


def _dsir_feats(side: DataFrame, *keep: str) -> DataFrame:
    """(*keep, fb): one hashed-feature row per unigram AND bigram
    occurrence. Unigrams contain no space and bigrams always do, so
    the two feature families never collide textually."""
    toks = side.select(*keep, F.split("text", " ").alias("toks"))
    feats = F.concat(
        F.col("toks"),
        F.when(F.size("toks") >= 2, word_bigrams("toks")).otherwise(
            F.expr("CAST(array() AS array<string>)")
        ),
    )
    return toks.select(*keep, F.explode(feats).alias("ft")).select(
        *keep,
        F.conv(F.substring(F.md5(F.col("ft")), 1, 3), 16, 10)
        .cast("int")
        .alias("fb"),
    )


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR kernel: per-held-doc ``(doc_id, lang, n_feats,
    logw_micro)``. Memoized via ``shared_stage`` — both consumers
    (the weight diagnostic and the resample) score the pool once."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("dsir_scores", sf_dir),
        lambda: _build_dsir_scores(spark, sf_dir),
    )


def _build_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _micro_ln is the repo-wide quantized-ln helper (classify.py owns
    # it because NB landed first; DSIR reuses the identical discipline).
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint
    from bq_nvd_spark.plans.classify import NB_MICRO, _micro_ln

    # the oracle hard-codes _DSIR_MICRO; _micro_ln scales by NB_MICRO —
    # they must be ONE scale or the engines silently desynchronize
    if NB_MICRO != _DSIR_MICRO:
        raise AssertionError(
            f"DSIR micro scale {_DSIR_MICRO} != classify.NB_MICRO "
            f"{NB_MICRO}: retune _DSIR_MICRO (and the oracle) together"
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", _spark_bucket().alias("bucket")
    )
    model = stage_checkpoint(
        _dsir_feats(docs.filter(F.col("bucket") < TRAIN_END), "lang")
        .groupBy("fb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cs"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            )
            .cast("long")
            .alias("ct"),
        )
    )
    tot = model.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cs").cast("long").alias("ts"),
    )
    hb = (
        _dsir_feats(
            docs.filter(F.col("bucket") >= TRAIN_END), "doc_id", "lang"
        )
        .groupBy("doc_id", "lang", "fb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lam = _micro_ln(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        / (F.col("tt") + F.lit(DSIR_BUCKETS)).cast("double")
    ) - _micro_ln(
        (F.coalesce(F.col("cs"), F.lit(0)) + 1).cast("double")
        / (F.col("ts") + F.lit(DSIR_BUCKETS)).cast("double")
    )
    return (
        hb.join(F.broadcast(model), "fb", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "lang", "c", (F.col("c") * lam).alias("w"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum("w").cast("long").alias("logw_micro"),
        )
    )


@query(
    "dsir_importance_weights",
    oracle=_DSIR_ORACLE_PREFIX
    + """
    SELECT doc_id, lang, n_feats, logw_micro FROM sc
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-held-document DSIR importance weight in exact integer
    micro-nats: logw = Σ_b c_b·(ln p̂_target[b] − ln p̂_source[b]) over
    hashed unigram+bigram buckets (see the section note)."""
    return _dsir_scores(spark, sf_dir).select(
        "doc_id", "lang", "n_feats", "logw_micro"
    )


@query(
    "dsir_resample_topk",
    oracle=_DSIR_ORACLE_PREFIX
    + f"""
    SELECT doc_id, lang, logw_micro
    FROM (
      SELECT doc_id, lang, logw_micro,
             logw_micro + CAST(FLOOR(-LN(CAST(nlu AS DOUBLE)
                                         / {_DSIR_MICRO}.0)
                                     * {_DSIR_MICRO} + 0.5) AS BIGINT)
               AS key_micro
      FROM (
        SELECT *,
               CAST(FLOOR(-LN((ub + 1) / 65537.0)
                          * {_DSIR_MICRO} + 0.5) AS BIGINT) AS nlu
        FROM (
          SELECT *,
                 CAST(('0x' || substr(md5('dsir:'
                        || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                   AS ub
          FROM sc
        )
      )
    )
    ORDER BY key_micro DESC, doc_id
    LIMIT {DSIR_K}
    """,
)
def dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-K importance resample of the held pool: K docs drawn
    without replacement with probability ∝ exp(logw), deterministic
    via the per-doc md5 uniform (see the section note)."""
    sc = _dsir_scores(spark, sf_dir)
    ub = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dsir:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        )
        .cast("long")
    )
    nlu = F.floor(
        -F.log((ub + 1) / F.lit(65537.0)) * _DSIR_MICRO + 0.5
    ).cast("long")
    g = F.floor(
        -F.log(nlu.cast("double") / F.lit(float(_DSIR_MICRO)))
        * _DSIR_MICRO
        + 0.5
    ).cast("long")
    return (
        sc.select(
            "doc_id",
            "lang",
            "logw_micro",
            (F.col("logw_micro") + g).alias("key_micro"),
        )
        .orderBy(F.desc("key_micro"), "doc_id")
        .limit(DSIR_K)
        .select("doc_id", "lang", "logw_micro")
    )


# --------------------------------------------------------------------------
# E6+ (round 15): TEMPERATURE mixture quotas — the alpha-sampling rule
# multilingual/multi-source pretraining uses to flatten a skewed corpus
# (mT5/XLM-R style: sample source s with probability ∝ n_s^alpha,
# 0 < alpha < 1, so head sources shrink and tail sources grow relative
# to their raw shares). Here alpha = 1/2: w_s = sqrt(n_s), computable
# EXACTLY cross-engine because IEEE-754 sqrt is correctly rounded
# (unlike pow/ln, which agree only to ~1 ulp) — quantized once to
# integer micro-units, after which the capacity/quota arithmetic is
# the same all-integer math as mixture_resample_docs: capacity
# T = min_s floor(n_s*SUMw/w_s) (the scarcest source under its
# flattened share binds), quota k_s = floor(w_s*T/SUMw). Scale shape:
# ONE corpus scan into the per-source census; every derived scalar is
# an unpartitioned window over the |sources|-row census (the benign
# aggregated-series case); membership selection composes with
# mixture_resample_docs' md5-rank machinery.


@query(
    "temperature_mixture_quotas",
    oracle="""
    WITH w AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(SQRT(COUNT(*)) * 1000000 + 0.5) AS BIGINT)
               AS w_micro
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT source, n_docs, w_micro,
             CAST(SUM(w_micro) OVER () AS BIGINT) AS sum_w
      FROM w
    ),
    t AS (
      -- 128-bit intermediates: n_docs*sum_w (and w_micro*cap below)
      -- exceed BIGINT at petabyte-source cardinalities; HUGEINT here
      -- == DECIMAL(38,0) on the Spark side, division results fit BIGINT
      SELECT source, n_docs, w_micro, sum_w,
             CAST(MIN((CAST(n_docs AS HUGEINT) * sum_w) // w_micro)
                  OVER () AS BIGINT) AS cap
      FROM s
    )
    SELECT source, n_docs, w_micro,
           CAST((CAST(w_micro AS HUGEINT) * cap) // sum_w AS BIGINT)
             AS quota
    FROM t
    """,
)
def temperature_mixture_quotas(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quotas of the largest corpus achievable at EXACT
    n_s^(1/2)-proportional shares (see the section note). Emits the
    census (n_docs), the quantized weight, and the integer quota."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * 1_000_000 + 0.5)
        .cast("long")
        .alias("w_micro"),
    )
    wall = Window.partitionBy()
    return (
        w.select(
            "source",
            "n_docs",
            "w_micro",
            F.sum("w_micro").over(wall).cast("long").alias("sum_w"),
        )
        .select(
            "source", "n_docs", "w_micro", "sum_w",
            # DECIMAL(38,0) intermediates (the oracle's HUGEINT twin):
            # the products overflow BIGINT at petabyte-source
            # cardinalities, and Spark's non-ANSI multiply would wrap
            # SILENTLY while DuckDB errors — divergence exactly at
            # scale. div on decimals returns an exact LONG.
            F.min(
                F.expr(
                    "(CAST(n_docs AS DECIMAL(38,0)) * sum_w) div w_micro"
                )
            )
            .over(wall)
            .alias("cap"),
        )
        .select(
            "source",
            "n_docs",
            "w_micro",
            F.expr("(CAST(w_micro AS DECIMAL(38,0)) * cap) div sum_w")
            .cast("long")
            .alias("quota"),
        )
    )


# --------------------------------------------------------------------------
# E6 × E7 (round 16): BLOOM-FILTER decontamination — the membership
# pre-filter that makes eval-set decontamination affordable at 100 TB.
# ``decontamination_overlaps`` above joins train grams against eval
# grams (exact, pairwise, the audit artifact); a production refresh
# first runs THIS: fold the eval split's n-grams into a Bloom filter
# and probe every train gram against it — only flagged docs (a tiny
# superset of the truly contaminated; Bloom has no false negatives)
# proceed to the exact join.
#
# Representation: Spark's JVM BloomFilterAggregate is not exposed in
# the PySpark function registry, so the filter is its RELATIONAL
# form — the DISTINCT set-bit-position relation {pmod(xxhash64(gram,
# j), BLOOM_BITS) : eval grams, j < BLOOM_K}. Identical semantics
# (a train gram "hits" iff ALL K of its positions are set, i.e. all
# K probe rows survive the semi-join), and the state is CONSTANT-
# bounded: the relation can never exceed BLOOM_BITS rows no matter
# the corpus (a real bit array is just this relation packed dense; a
# Scala deployment swaps in bloom_filter_agg with the same plan
# around it). FP rate ≈ (set_bits/BLOOM_BITS)^BLOOM_K — ~1e-7 at
# this corpus' eval-gram count.
#
# Oracle contract: the filter is engine-specific, so this rides the
# sketch family's ACCURACY-BOUND contract (plans/sketches.py): the
# hash-compared columns are the exact integers (per-source train-doc
# and exactly-contaminated counts, which DuckDB recomputes), plus two
# booleans the Spark side COMPUTES and the oracle emits as literal
# TRUE — ``no_false_negatives`` (bloom-flagged ⊇ exact, the Bloom
# guarantee; a violation means the probe and exact sides drifted) and
# ``fp_within_bound`` (the false-positive EXCESS stays under
# BLOOM_FP_PCT% of train docs). Deterministic: xxhash64 positions are
# a pure function of the gram bytes, independent of partitioning.
#
# Scale shape: one shared_stage'd gram build (shared verbatim with
# decontamination_overlaps), one distinct to the ≤BLOOM_BITS-row
# position relation, one equi-join probe (AQE broadcasts the position
# side when small), and ONE exact semi-join kept only to measure the
# false-positive excess (the step a 100 TB run would pay only for the
# flagged subset). Census is a map-side-combined groupBy(source).
BLOOM_BITS = 1 << 22  # position space: 4M "bits" (relation rows cap)
BLOOM_K = 7  # hash functions per gram
BLOOM_FP_PCT = 5  # flagged excess must stay under 5% of train docs


def _bloom_positions(
    gram_col: str = "gram", bits: int = BLOOM_BITS
) -> "F.Column":
    """The K deterministic bit positions of a gram. ``bits`` is
    parameterized so the false-positive pytest can drive a
    deliberately undersized filter — at the production BLOOM_BITS the
    fp path is (by design) never observable on fixture-sized data."""
    return F.array(
        *[
            F.pmod(F.xxhash64(gram_col, F.lit(j)), F.lit(bits))
            for j in range(BLOOM_K)
        ]
    )


def bloom_flagged_ids(
    labeled: DataFrame, bits: int = BLOOM_BITS
) -> DataFrame:
    """The PRODUCTION half of the Bloom pre-filter: the distinct
    ``doc_id``s of train docs with at least one gram hitting the
    filter (the superset of the truly contaminated — no false
    negatives; false positives bounded by the sizing). This is the
    only plan a 100 TB decontamination refresh pays corpus-wide:
    position explode → semi-join against the ≤``bits``-row set-bit
    relation → per-gram K-count. The census below wraps it with the
    exact join purely to VALIDATE the filter's properties."""
    ev = labeled.filter("held").select("gram").distinct()
    set_bits = ev.select(
        F.explode(_bloom_positions(bits=bits)).alias("p")
    ).distinct()
    train = labeled.filter(~F.col("held"))
    probe = train.select(
        "doc_id",
        "source",
        "gram",
        F.explode(_bloom_positions(bits=bits)).alias("p"),
    )
    # a gram hits the filter iff every one of its K position rows
    # survives the semi-join (two hash functions colliding on one
    # position still yield K rows — rows are per-j, not per-position)
    gram_hits = (
        probe.join(set_bits, "p", "left_semi")
        .groupBy("doc_id", "source", "gram")
        .agg(F.count(F.lit(1)).alias("k_found"))
        .filter(F.col("k_found") == BLOOM_K)
    )
    return gram_hits.select("doc_id").distinct()


def bloom_census_kernel(
    labeled: DataFrame,
    bits: int = BLOOM_BITS,
    flagged: DataFrame | None = None,
) -> DataFrame:
    """The Bloom-vs-exact census over any (doc_id, source, gram, held)
    relation — the whole query below minus the corpus wiring, exposed
    so tests can shrink ``bits`` and watch a real false-positive
    excess trip ``fp_within_bound`` (proving the bound is computed,
    not vacuously TRUE). ``flagged`` lets a caller hand in an
    already-materialized ``bloom_flagged_ids`` relation (the shared
    stage below); when None the kernel derives it itself — the test
    paths with custom ``bits`` stay self-contained."""
    ev = labeled.filter("held").select("gram").distinct()
    train = labeled.filter(~F.col("held"))
    if flagged is None:
        flagged = bloom_flagged_ids(labeled, bits=bits)
    bloom_ids = flagged.withColumn("b", F.lit(1))
    exact_ids = (
        train.join(ev, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("e", F.lit(1))
    )
    spine = train.select("doc_id", "source").distinct()
    per_doc = (
        spine.join(bloom_ids, "doc_id", "left")
        .join(exact_ids, "doc_id", "left")
        .select(
            "source",
            F.coalesce("b", F.lit(0)).alias("b"),
            F.coalesce("e", F.lit(0)).alias("e"),
        )
    )
    census = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.sum("e").cast("long").alias("n_flagged_exact"),
        F.sum("b").cast("long").alias("n_flagged_bloom"),
    )
    return census.select(
        "source",
        "n_train_docs",
        "n_flagged_exact",
        (F.col("n_flagged_bloom") >= F.col("n_flagged_exact")).alias(
            "no_false_negatives"
        ),
        (
            (F.col("n_flagged_bloom") - F.col("n_flagged_exact")) * 100
            <= F.col("n_train_docs") * BLOOM_FP_PCT
        ).alias("fp_within_bound"),
    )


#: the decon gram/eval/train/exact CTE chain, shared by the census
#: oracle and the fast-path transform's oracle below — one SQL truth.
_BLOOM_DECON_ORACLE_CTES = f"""{_DUCK_DECON_GRAMS},
    tg AS (
      SELECT g.doc_id, g.gram, d.source,
             {_DUCK_BUCKET.replace('doc_id', 'g.doc_id')} >= {VAL_END}
               AS held
      FROM grams g JOIN documents d ON d.doc_id = g.doc_id
    ),
    ev AS (SELECT DISTINCT gram FROM tg WHERE held),
    tr AS (SELECT DISTINCT doc_id, source FROM tg WHERE NOT held),
    ex AS (
      SELECT DISTINCT t.doc_id
      FROM tg t JOIN ev USING (gram)
      WHERE NOT t.held
    )"""


@query(
    "bloom_decontamination_census",
    oracle=f"""
    WITH {_BLOOM_DECON_ORACLE_CTES}
    SELECT tr.source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged_exact,
           TRUE AS no_false_negatives,
           TRUE AS fp_within_bound
    FROM tr LEFT JOIN ex ON ex.doc_id = tr.doc_id
    GROUP BY tr.source
    """,
)
def bloom_decontamination_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source contamination census under the Bloom pre-filter
    (see the section note): exact integers hash-gated, the Bloom
    no-false-negative and false-positive-excess properties asserted
    Spark-side against the exact join."""
    return bloom_census_kernel(
        _decon_labeled(spark, sf_dir),
        flagged=_bloom_flagged_rel(spark, sf_dir),
    )


def _bloom_flagged_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-sized Bloom flagged-ids relation, memoized via
    ``shared_stage`` (optimization round 17): the probe explode
    (K=7 position rows per train gram) → semi-join → per-gram K-count
    is the Bloom family's dominant stage, and BOTH registered
    consumers (the validation census and the fast-path transform) ran
    it from scratch per session pass. One bigint doc_id per flagged
    train doc — bounded by the train corpus' distinct docs. Test
    paths with custom ``bits``/``labeled`` keep calling
    ``bloom_flagged_ids`` directly and never touch this memo."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("bloom_flagged", sf_dir),
        lambda: bloom_flagged_ids(_decon_labeled(spark, sf_dir)),
    )


def _decon_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, gram, held) — the shared-gram relation joined
    to its source with the census/transform split label. ONE
    definition of the train/eval boundary for the whole Bloom family
    (census + fast-path transform): a future change to the bucket
    rule or the projection cannot desynchronize them."""
    grams = _decon_gram_rel(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    held = _spark_bucket() >= VAL_END
    return grams.join(src, "doc_id").select(
        "doc_id", "source", "gram", held.alias("held")
    )


@query(
    "bloom_decontaminated_docs",
    oracle=f"""
    WITH {_BLOOM_DECON_ORACLE_CTES}
    SELECT tr.doc_id, tr.source
    FROM tr LEFT JOIN ex ON ex.doc_id = tr.doc_id
    WHERE ex.doc_id IS NULL
    """,
)
def bloom_decontaminated_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production decontamination TRANSFORM (VERDICT r16 task 6):
    train docs surviving the Bloom-only probe — the plan a 100 TB
    refresh actually executes (``bloom_flagged_ids``: position
    explode, ≤BLOOM_BITS-row semi-join, per-gram K-count; the exact
    join then runs only on the flagged subset, off this plan).
    Distinct from the validation census above, which pays both paths
    to certify the filter.

    Oracle note (the sketch-family accuracy trade, row form): the
    oracle emits the EXACT survivor set. Bloom survivors are a subset
    of exact survivors (no false negatives); they are EQUAL whenever
    the production-sized filter yields zero false positives on the
    corpus — deterministic for fixed data and xxhash64, verified at
    all three fixture SFs (fp rate ≈ (set_bits/2²²)^7 ≈ 1e-7 here).
    The undersized-filter pytest drives the strict-subset case,
    proving the equality compare is not vacuous, and a zero-FP guard
    pytest pins the equality fact itself at every fixture SF — a
    fixture or sizing change that introduces an FP fails loudly in
    CI before the driver ever sees a row diff. Spine = docs that
    HAVE grams (≥ DECON_N tokens), identical both sides."""
    labeled = _decon_labeled(spark, sf_dir)
    train_docs = (
        labeled.filter(~F.col("held"))
        .select("doc_id", "source")
        .distinct()
    )
    # No forced broadcast: flagged size tracks true contamination and
    # can be corpus-proportional on a contaminated corpus — AQE picks.
    return train_docs.join(
        _bloom_flagged_rel(spark, sf_dir), "doc_id", "left_anti"
    )


# --------------------------------------------------------------------------
# E6 (round 17): PACKING-EFFICIENCY census — first-fit-decreasing bin
# packing over document token lengths (VERDICT r16 task 8), the
# no-split alternative to ``sequence_packing`` above: concat-then-
# chunk wastes nothing but cuts documents across chunk boundaries;
# FFD keeps every document whole inside one PACK_BUDGET-token bin and
# pays padding waste instead. The census quantifies that trade
# per source (FFD bins and waste vs the concat baseline's
# ceil(total/budget)) — the artifact a pretraining-layout decision
# reads.
#
# Exactness: FFD is deterministic given an order — docs sorted
# (n_tokens DESC, doc_id ASC) per source, first FITTING bin by bin
# index. The Spark side runs the trace in one grouped applyInPandas
# per source (the _mmr_greedy_from_pool precedent for irreducibly
# sequential greedy traces); the oracle walks the SAME trace in a
# DuckDB recursive CTE whose state is the per-bin remaining-capacity
# list. All integers; a doc longer than PACK_BUDGET opens its own
# forever-overfull bin (negative remainder never fits a later doc) —
# the same rule in both halves, unreachable on this fixture
# (max 100 tokens << 512).
#
# Scale shape: the packing DOMAIN is the source (the same partition
# sequence_packing uses) — each domain's (doc_id, n_tokens) list
# must fit one executor's pandas frame, which is the published
# production recipe anyway (packing is always sharded; extend the
# group key with a shard id to cap domain size, exactly as the
# sequence_packing window would). One scan, one grouped trace, one
# map-side-combined census; nothing driver-side, nothing broadcast.


def ffd_pack_kernel(toks: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, bin_idx) — the FFD trace over any
    (doc_id, source, n_tokens) relation, one sequential greedy pass
    per source group; bin ids are 1-based in placement order."""
    import pandas as pd  # noqa: F401 — applyInPandas contract

    def _ffd(pdf):
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        rem: list = []
        placed: list = []
        for t in pdf["n_tokens"]:
            t = int(t)
            for i, r in enumerate(rem):
                if r >= t:
                    rem[i] = r - t
                    placed.append(i + 1)
                    break
            else:
                rem.append(PACK_BUDGET - t)
                placed.append(len(rem))
        pdf = pdf.assign(bin_idx=placed)
        return pdf[["doc_id", "source", "n_tokens", "bin_idx"]]

    return toks.groupBy("source").applyInPandas(
        _ffd, "doc_id long, source string, n_tokens long, bin_idx long"
    )


def _ffd_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' assignment relation — memoized via
    ``shared_stage`` so the transform and the census pay the grouped
    trace once per session."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        toks = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        return ffd_pack_kernel(toks)

    return shared_stage(spark, ("ffd_packed", sf_dir), build)


#: the FFD trace as DuckDB CTEs: docs ranked (tok DESC, doc_id) per
#: source, then a recursive walk whose state is the remaining-capacity
#: list; the first fitting index is computed by the same
#: list_filter(...)[1] expression everywhere it is needed.
_FFD_ORACLE_CTES = f"""d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY len(string_split(text, ' ')) DESC,
                                         doc_id) AS rnk
      FROM documents
    ),
    ffd(source, rn, rem, doc_id, tok, bin_idx) AS (
      SELECT source, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT)
      FROM (SELECT DISTINCT source FROM d)
      UNION ALL
      SELECT f.source, f.rn + 1,
             CASE WHEN list_filter(generate_series(1, len(f.rem)),
                                   i -> f.rem[i] >= nd.tok)[1] IS NULL
                  THEN list_append(f.rem, {PACK_BUDGET} - nd.tok)
                  ELSE list_transform(generate_series(1, len(f.rem)),
                         i -> CASE WHEN i = list_filter(
                                      generate_series(1, len(f.rem)),
                                      j -> f.rem[j] >= nd.tok)[1]
                                   THEN f.rem[i] - nd.tok
                                   ELSE f.rem[i] END)
             END,
             nd.doc_id, nd.tok,
             CAST(COALESCE(list_filter(generate_series(1, len(f.rem)),
                                       i -> f.rem[i] >= nd.tok)[1],
                           len(f.rem) + 1) AS BIGINT)
      FROM ffd f JOIN d nd ON nd.source = f.source AND nd.rnk = f.rn + 1
    ),
    assigned AS (
      SELECT doc_id, source, tok AS n_tokens, bin_idx
      FROM ffd WHERE doc_id IS NOT NULL
    )"""


@query(
    "ffd_packed_docs",
    oracle=f"""
    WITH RECURSIVE {_FFD_ORACLE_CTES}
    SELECT doc_id, source, n_tokens, bin_idx FROM assigned
    """,
)
def ffd_packed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document FFD bin assignment (see the section note): which
    PACK_BUDGET-token bin each whole document lands in under
    first-fit-decreasing, deterministically in both engines."""
    return _ffd_packed(spark, sf_dir)


@query(
    "ffd_packing_census",
    oracle=f"""
    WITH RECURSIVE {_FFD_ORACLE_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(bin_idx) AS BIGINT) AS n_bins,
           CAST(MAX(bin_idx) * {PACK_BUDGET} - SUM(n_tokens) AS BIGINT)
             AS waste_tokens,
           CAST((SUM(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}
                AS BIGINT) AS baseline_bins
    FROM assigned GROUP BY source
    """,
)
def ffd_packing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing efficiency (see the section note): FFD bin
    count and padding waste against the concat-then-chunk baseline's
    ceil(total/budget) — waste = capacity·bins − tokens by identity,
    so the column is derived, not re-measured."""
    return _ffd_packed(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("bin_idx").cast("long").alias("n_bins"),
        (F.max("bin_idx") * PACK_BUDGET - F.sum("n_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.expr(f"(sum(n_tokens) + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
        .cast("long")
        .alias("baseline_bins"),
    )

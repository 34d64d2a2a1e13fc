"""Corpus-growth curation diagnostics (EXT scope per SURVEY.md §2.11).

Two operators a continuously-growing training corpus needs that the
per-snapshot dedup/statistics stack in ``plans/llm.py`` does not cover:

- ``vocab_growth_curve`` — the Heaps'-law diagnostic: cumulative
  distinct vocabulary vs cumulative token count as the corpus grows
  (in doc_id order, bucketed into deciles). A corpus whose type curve
  flattens early is duplicative/boilerplate-heavy; one that stays
  near-linear is likely noisy (OCR errors, random strings). The whole
  computation is one explode + two hash aggregations — the window
  cumsum runs over the 10 bucket rows, never over tokens.

- ``incremental_dedup_new_docs`` — cross-corpus near-dedup for shard
  ingestion: flag each INCOMING document (here: ``doc_id % 4 == 0``,
  standing in for "the new shard") whose MinHash LSH band signature
  collides with any document of the EXISTING corpus (the other 75%).
  Candidate detection is a semi-join on (band_idx, band_sig) — the
  incoming side never joins against itself, no pair set is ever
  materialized, and each side pays signature hashing only for its own
  rows. This is the O(|new|)-per-ingest shape that makes continuous
  dedup viable at 100 TB, vs re-running the full-corpus pair pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bq_nvd_spark.operators.similarity import sorted_pairs
from bq_nvd_spark.operators.text import word_bigrams
from bq_nvd_spark.plans.llm import _duck_band_cte, _spark_bands
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.plans.sampling import TRAIN_END as _SPLIT_TRAIN_END
from bq_nvd_spark.plans.sampling import _DUCK_BUCKET as _DUCK_SPLIT_BUCKET
from bq_nvd_spark.sources.tables import load_table

N_BUCKETS = 10  # corpus-growth deciles (by doc_id, the ingest order)


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    tok AS (
      SELECT (d.doc_id * {N_BUCKETS}) // mx.m AS bucket,
             UNNEST(string_split(d.text, ' ')) AS tok
      FROM documents d, mx
    ),
    firsts AS (SELECT tok, MIN(bucket) AS fb FROM tok GROUP BY tok),
    newt AS (SELECT fb AS bucket, COUNT(*) AS new_types FROM firsts GROUP BY fb),
    cnt AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket)
    SELECT c.bucket,
           CAST(SUM(c.n_tokens) OVER (ORDER BY c.bucket) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY c.bucket) AS BIGINT)
             AS cum_types
    FROM cnt c LEFT JOIN newt n ON c.bucket = n.bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative (tokens, distinct types) after each corpus decile.

    A token's type contribution lands in the decile of its FIRST
    occurrence (min bucket per token) — so ``cum_types`` at decile d is
    exactly the vocabulary size of the first (d+1)/10 of the corpus,
    without computing 10 prefix distinct-counts. Scale shape: one
    token explode feeding two map-side-combined hash aggs; the
    unpartitioned cumsum window sees only the N_BUCKETS aggregate rows.
    """
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    toks = docs.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(doc_id * {N_BUCKETS}) div m").alias("bucket"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    # Both output series derive from per-(bucket, token) counts, so the
    # corpus-sized explode is paid ONCE into this O(vocab x buckets)
    # relation (materialized — two downstream branches would otherwise
    # each replay the explode); everything after runs on the aggregate.
    bt = stage_checkpoint(
        toks.groupBy("bucket", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    firsts = bt.groupBy("tok").agg(F.min("bucket").alias("fb"))
    newt = firsts.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    cnt = bt.groupBy("bucket").agg(F.sum("c").alias("n_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cnt.join(newt, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("new_types", F.lit(0))).over(w).alias("cum_types"),
        )
    )


INC_MOD = 4  # doc_id % INC_MOD == 0 plays the incoming shard (25%)


@query(
    "incremental_dedup_new_docs",
    oracle=_duck_band_cte()
    + f"""
    SELECT d.doc_id, (f.doc_id IS NOT NULL) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % {INC_MOD} = 0) d
    LEFT JOIN (
      SELECT DISTINCT a.doc_id
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       AND b.doc_id % {INC_MOD} <> 0
      WHERE a.doc_id % {INC_MOD} = 0
    ) f ON d.doc_id = f.doc_id
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-incoming-document near-dup verdict against the existing corpus.

    ``pre_filter`` pushes the shard split below the signature stage, so
    base and incoming each hash only their own rows (together = one full
    pass, same total cost as a snapshot run but restartable per shard).
    The semi-join emits no pair rows; the final left join attaches the
    verdict to every incoming doc, collision or not.
    """
    inc_bands = _spark_bands(
        spark, sf_dir, pre_filter=F.col("doc_id") % INC_MOD == 0
    )
    base_bands = _spark_bands(
        spark, sf_dir, pre_filter=F.col("doc_id") % INC_MOD != 0
    )
    flagged = (
        inc_bands.join(base_bands, ["band_idx", "band_sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    inc_ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INC_MOD == 0)
        .select("doc_id")
    )
    return inc_ids.join(flagged, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


# --------------------------------------------------------------------------
# E2 × E6 (round 16): cross-snapshot dedup DELTA report — the
# per-source composition of ``incremental_dedup_new_docs`` (per-doc
# verdicts on one shard) with the drift monitor's snapshot split
# (``source_drift_kl``'s md5-bucket prev/current convention, so the
# two dashboard rows describe the SAME snapshot pair): for every
# source, how many of its CURRENT-snapshot documents near-duplicate
# the PREVIOUS snapshot. This is the ingest-quality row a 100 TB
# crawl refresh reads first — a source whose new shards are mostly
# already-seen content (a stuck crawler, a mirror site) shows up as a
# dup-rate spike next to its KL drift.
#
# Scale shape: identical to incremental_dedup_new_docs — each side
# pays MinHash signatures only for its own rows (pre_filter below the
# exchange), candidate detection is a semi-join on (band_idx,
# band_sig) with no pair materialization, and the census is one
# map-side-combined groupBy(source). The dup rate is the reader's
# division of two exact integers.
@query(
    "snapshot_dup_delta",
    oracle=_duck_band_cte()
    + f""",
    bk AS (
      SELECT doc_id, source, {_DUCK_SPLIT_BUCKET} AS bucket
      FROM documents
    ),
    dup AS (
      SELECT DISTINCT a.doc_id
      FROM bands a
      JOIN bk ba ON ba.doc_id = a.doc_id
                AND ba.bucket >= {_SPLIT_TRAIN_END}
      JOIN bands b ON b.band_idx = a.band_idx
                  AND b.band_sig = a.band_sig
      JOIN bk bb ON bb.doc_id = b.doc_id
                AND bb.bucket < {_SPLIT_TRAIN_END}
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_new_docs,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_docs
    FROM (SELECT doc_id, source FROM bk
          WHERE bucket >= {_SPLIT_TRAIN_END}) d
    LEFT JOIN dup ON dup.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def snapshot_dup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-rate census of the current snapshot
    against the previous one (see the section note): new-doc count
    and how many of them carry an LSH band collision with the
    previous snapshot."""
    from bq_nvd_spark.plans.sampling import _spark_bucket

    cur_bands = _spark_bands(
        spark, sf_dir, pre_filter=_spark_bucket() >= _SPLIT_TRAIN_END
    )
    prev_bands = _spark_bands(
        spark, sf_dir, pre_filter=_spark_bucket() < _SPLIT_TRAIN_END
    )
    flagged = (
        cur_bands.join(prev_bands, ["band_idx", "band_sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    spine = (
        load_table(spark, sf_dir, "documents")
        .filter(_spark_bucket() >= _SPLIT_TRAIN_END)
        .select("doc_id", "source")
    )
    return (
        spine.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new_docs"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


VOCAB_K = 500  # the frozen tokenizer's vocabulary budget


@query(
    "oov_rate_by_vocab",
    oracle=f"""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM counts ORDER BY n DESC, tok LIMIT {VOCAB_K})
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           FLOOR(SUM(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.lang
    """,
)
def oov_rate_by_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary rate under a frozen top-K vocab.

    The tokenizer-coverage diagnostic run before committing a vocabulary:
    build the corpus-global top-K token vocabulary (count DESC, token ASC
    — the tie at the K boundary is deterministic in both engines), then
    measure what fraction of each language's token OCCURRENCES falls
    outside it. Scale shape: one explode into a map-side-combined token
    census; the top-K is an aggregate-side ``orderBy().limit()`` over the
    vocabulary relation (never the corpus); the membership join
    broadcasts the K-row vocab, so the second corpus pass is a
    broadcast-hash lookup with no shuffle. Rate rounds half-up to 4
    decimals (cross-engine float discipline, see FIXTURES.md).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            "lang",
            "total_tokens",
            "oov_tokens",
            (
                F.floor(F.col("oov_tokens") / F.col("total_tokens") * 10000 + 0.5)
                / 10000
            ).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# E4/E6 widening (round 9): per-language length profile — the exact
# p50/p90/p99 document length every corpus pipeline inspects before
# committing length-filter thresholds (a p99 cut per language, not one
# global number, because languages' length distributions differ).
#
# Scale shape: the grouped-exact-percentile showcase of
# operators/rank_select — ONE corpus scan into a per-(lang, n_chars)
# census (map-side combined, bounded by languages × distinct lengths),
# then all nine order statistics from one weighted stacked selection
# over the checkpointed census; no Window, no sort, and the selector's
# driver state is census-bounded. The same query over a ~5-key
# partitioned window would re-create value_mad_outliers' pre-round-9
# few-reducers-sort-the-corpus shape.
@query(
    "doc_length_percentiles_by_lang",
    oracle="""
    WITH r AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
      WHERE n_chars IS NOT NULL
    )
    SELECT lang,
           MAX(CASE WHEN rn = (50*n + 99) // 100 THEN n_chars END)
             AS p50_chars,
           MAX(CASE WHEN rn = (90*n + 99) // 100 THEN n_chars END)
             AS p90_chars,
           MAX(CASE WHEN rn = (99*n + 99) // 100 THEN n_chars END)
             AS p99_chars
    FROM r GROUP BY lang
    """,
)
def doc_length_percentiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-language length percentiles (values at ranks ⌈p·n⌉,
    actual data elements), selected distributedly over a length
    census — the oracle's per-lang ROW_NUMBER picks the same
    tie-independent elements."""
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint
    from bq_nvd_spark.operators.rank_select import exact_rank_values

    docs = load_table(spark, sf_dir, "documents")
    census = stage_checkpoint(
        docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("w"))
    )
    cuts = exact_rank_values(
        census,
        "n_chars",
        lambda n: {p: (int(p[1:]) * n + 99) // 100 for p in ("p50", "p90", "p99")},
        group_col="lang",
        weight_col="w",
        n_buckets=1 << 17,
    )
    rows = sorted(
        (
            (g, int(c["p50"]), int(c["p90"]), int(c["p99"]))
            for g, c in cuts.items()
        ),
        key=lambda r: (r[0] is None, r[0] or ""),
    )
    return spark.createDataFrame(
        rows, "lang string, p50_chars long, p90_chars long, p99_chars long"
    )


# --------------------------------------------------------------------------
# E6 widening: sliding-window document chunking — the context-window
# prep step every LLM training/RAG pipeline runs before tokenization
# (sequence_packing is the complement: it PACKS whole docs into fixed
# budgets; this SPLITS long docs into overlapping windows). Pure index
# arithmetic: the chunk relation is derived from token COUNTS and
# boundary tokens, never materializing the chunk arrays, so the row
# blowup is ceil(len/stride) per doc and every value hash-matches
# exactly (no floats).
#
# Scale shape: one per-row split + one explode of an integer sequence —
# row-local, zero shuffle before whatever the consumer does next. At
# 100 TB this is a map-only stage; the output inherits the input's
# partitioning.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@query(
    "chunk_documents_sliding",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS L
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, L, UNNEST(range(1, L + 1, {CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(LEAST({CHUNK_TOKENS}, L - start + 1) AS BIGINT) AS n_tokens,
           toks[CAST(start AS BIGINT)] AS head_tok,
           toks[CAST(LEAST(start + {CHUNK_TOKENS} - 1, L) AS BIGINT)] AS tail_tok
    FROM c
    """,
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (size CHUNK_TOKENS, stride
    CHUNK_STRIDE) per document: chunk index, its token count, and its
    boundary tokens — the manifest a downstream tokenize/embed stage
    consumes. Chunks are described by index arithmetic over the
    token array; the text is never copied per chunk."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("L"),
    )
    c = t.select(
        "doc_id",
        "toks",
        "L",
        F.explode(
            F.sequence(F.lit(1), F.col("L"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    n_tokens = F.least(F.lit(CHUNK_TOKENS), F.col("L") - F.col("start") + 1)
    return c.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        n_tokens.cast("long").alias("n_tokens"),
        F.element_at("toks", F.col("start").cast("int")).alias("head_tok"),
        F.element_at(
            "toks",
            F.least(F.col("start") + CHUNK_TOKENS - 1, F.col("L")).cast("int"),
        ).alias("tail_tok"),
    )


# --------------------------------------------------------------------------
# E2/E6 widening: provenance contamination matrix — which SOURCES share
# verbatim 5-gram spans with which. The dedup family answers "which
# documents duplicate"; a curation pipeline also needs the rollup one
# level up (scrape A re-crawls scrape B, a mirror sneaks into two
# feeds) to decide whole-source exclusion weights. Shared-span count
# plus the containment ratio (shared / smaller side's gram set — the
# asymmetric-size-robust overlap measure) per source pair.
#
# Scale shape: the whole matrix is computed over the CAPPED gram
# universe — grams in more than MATRIX_GRAM_DOC_CAP distinct documents
# (boilerplate: licence headers, navigation chrome) are dropped by the
# same document-frequency census decontamination_overlaps runs, so
# everything past the per-gram aggregate is bounded by the rare-gram
# vocabulary rather than the corpus. ONE exchange carries gram rows
# (optimization round 17): the per-gram aggregate computes the document
# frequency and the distinct source set together, and source PAIRS are
# generated per gram from the sorted set — at most (#sources sharing
# the gram)² rows per gram, #sources being the provenance cardinality
# (dozens, not millions). The old form shuffled the exploded relation
# four more times (global distinct, df census semi-join, a second
# distinct, and a self-join on gram) for the same rows. The 5-gram
# construction is O(tokens) per doc (array slices over a projected
# attribute — see _adjacent_pair_rel's rationale in llm.py). The cap
# sits far above the sf0.01/sf0.1 maximum document frequency (3–4), so
# test-scale output is identical to the uncapped form.
GRAM_N = 5
MATRIX_GRAM_DOC_CAP = 50


@query(
    "cross_source_contamination_matrix",
    oracle=f"""
    WITH dg AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(tk[i : i + {GRAM_N} - 1], ' ') AS gram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
            FROM documents),
           UNNEST(range(1, len(tk) - {GRAM_N} + 2)) t(i)
      WHERE len(tk) >= {GRAM_N}
    ),
    rare AS (
      SELECT gram FROM dg
      GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) <= {MATRIX_GRAM_DOC_CAP}
    ),
    g AS (SELECT DISTINCT source, gram FROM dg JOIN rare USING (gram)),
    per_src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
                FROM g GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           FLOOR(COUNT(*) / LEAST(pa.n_grams, pb.n_grams) * 10000 + 0.5)
             / 10000 AS containment
    FROM g a
    JOIN g b ON a.gram = b.gram AND a.source < b.source
    JOIN per_src pa ON pa.source = a.source
    JOIN per_src pb ON pb.source = b.source
    GROUP BY a.source, b.source, pa.n_grams, pb.n_grams
    """,
)
def cross_source_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-pair overlap census over the rare-gram universe
    (document frequency ≤ MATRIX_GRAM_DOC_CAP): distinct shared
    5-grams and the containment ratio against the smaller side's
    gram set."""
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    tok_rel = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= GRAM_N)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (GRAM_N - 1)),
        lambda i: F.array_join(F.slice("toks", i, GRAM_N), " "),
    )
    # Per-document distinct grams via array_distinct BEFORE the explode:
    # (doc_id, gram) is then unique by construction, replacing the old
    # corpus-wide .distinct() exchange with per-row array work
    # (optimization round 17, guide §2.3/§2.4 — the oracle's DISTINCT
    # spec is unchanged; the hash compare pins equality).
    dg = tok_rel.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(grams)).alias("gram"),
    )
    # ONE exchange carries gram rows: the per-gram document frequency
    # and the source set come out of the same map-side-combined
    # aggregate. count_distinct(doc_id) — not count(*) — keeps the cap
    # the oracle's COUNT(DISTINCT doc_id) even if an input ever carries
    # duplicate doc_id rows (the old plan's .distinct() tolerated
    # that); collect_set(source) is the distinct (source, gram)
    # projection the old semi-join + second .distinct() rebuilt. The
    # sorted set is provenance-bounded (#sources is dozens), so every
    # downstream relation is tiny.
    per_gram = dg.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.array_sort(F.collect_set("source")).alias("srcs"),
    )
    # materialized once: the per-source totals and the pair census both
    # read it (the checkpoint moved from the exploded gram relation to
    # this compact post-aggregate projection)
    capped = stage_checkpoint(
        per_gram.filter(F.col("nd") <= MATRIX_GRAM_DOC_CAP).select("srcs")
    )
    per_src = (
        capped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    # all (a, b) with a < b from the sorted source set — the same rows
    # the old self-join on gram produced, without shuffling the gram
    # relation twice
    pairs = capped.select(
        F.explode(sorted_pairs("srcs", "source_a", "source_b")).alias("p")
    ).select("p.source_a", "p.source_b")
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("na")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("nb")
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.floor(
                    F.col("n_shared")
                    / F.least("na", "nb")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# E4/E6 widening (round 14): intra-document repetition filter — the
# Gopher/C4 duplicate-n-gram rule family (Rae et al. 2021 §A1.1: drop
# documents whose duplicate-n-gram fraction exceeds a threshold), the
# one standard curation gate the quality-scoring surface did not yet
# express. Two artifacts over one shared per-document kernel:
#
# - ``doc_repetition_profile`` — the per-document diagnostic: total
#   word-bigram occurrences, occurrences belonging to REPEATED bigrams
#   (count >= 2 within the doc), and the duplicate fraction a
#   threshold would gate on. Complements ``repetition_ngram_profile``
#   (plans/llm.py), which reports the TOP-bigram occupancy rule —
#   Gopher gates on both families; the duplicate-fraction one was
#   missing.
# - ``repetition_filter_census`` — the filter act: kept/dropped per
#   source under the exact-rational gate dup_occ/n_grams > 1/10
#   (integer cross-multiplication — no float enters the decision, so
#   the gate is hash-exact cross-engine by construction).
#
# n = 2 (word bigrams): the gate must fire on the fixture's 10-99-token
# synthetic docs to be testable; at those lengths 3-gram repeats are
# near-absent (p95 ~ 0.02) while bigram repeats split the corpus ~20/80
# at every SF. The kernel is n-generic in shape — the production
# 3-gram/line variants change only the transform width.
#
# Scale shape (100 TB): one tokenize + explode (gram rows ~ token
# rows), a map-side-combined (doc_id, gram) census, then a per-doc
# rollup on doc_id — maximal-cardinality grouping keys end to end, no
# window, no broadcast, no pair blowup. The census joins the doc spine
# (doc_id, source — column-pruned scan) left onto the metrics so a
# gram-less doc (< 2 tokens) is kept vacuously, identically in both
# engines.
REP_DUP_NUM = 1  # gate: drop when dup_occ / n_grams > NUM / DEN ...
REP_DUP_DEN = 10  # ... compared as dup_occ * DEN > n_grams * NUM (exact)

def _rep_metric_ctes(p: str = "") -> str:
    """The repetition-metric CTE chain ((doc, source) → n_grams,
    dup_occ) with name prefix ``p`` — ONE SQL truth for the bigram
    gate, shared by the repetition family's own oracles (p='') and by
    composing oracles that already bind t/g/c/m (e.g.
    quality_gate_agreement uses p='r'). A transform-width change
    (bigram → trigram) edits exactly this text and
    ``_build_repetition_metrics``."""
    return f"""{p}t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents
    ),
    {p}g AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM {p}t WHERE len(toks) >= 2
    ),
    {p}c AS (
      SELECT doc_id, source, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM {p}g GROUP BY doc_id, source, gram
    ),
    {p}m AS (
      SELECT doc_id, source,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
               AS dup_occ
      FROM {p}c GROUP BY doc_id, source
    )"""


_REP_ORACLE_PREFIX = "\n    WITH " + _rep_metric_ctes()


def _repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-bigram repetition census: ``(doc_id, source,
    n_grams, dup_occ)`` for every doc with >= 2 tokens.

    Memoized per (application, sf_dir) via ``shared_stage`` — both
    consumers (profile, filter census) read the same materialized
    relation, so a session pass pays the corpus tokenize once (the
    same two-consumers-of-one-expensive-kernel shape as ``_nb_scores``
    / ``_lm_scores``).

    The >= 2-token filter is load-bearing: Spark's ``sequence(0, -1)``
    is a DESCENDING sequence (DuckDB's ``range(1, 0)`` is empty), so an
    unguarded transform would desynchronize the engines on 1-token
    docs. Gram-less docs re-enter via the census's left-join spine.
    """
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("repetition_metrics", sf_dir),
        lambda: _build_repetition_metrics(spark, sf_dir),
    )


def _rep_keep_col() -> "F.Column":
    """The repetition gate's 0/1 keep verdict over (n_grams, dup_occ)
    — exact integer cross-multiplication, NULL-safe for gram-less
    docs re-entering via a left-join spine. The ONE definition the
    2×2 agreement matrix, the funnel census, and the agreement cube
    all share."""
    return (
        ~(
            F.coalesce(F.col("dup_occ"), F.lit(0)) * REP_DUP_DEN
            > F.coalesce(F.col("n_grams"), F.lit(0)) * REP_DUP_NUM
        )
    ).cast("long")


def _build_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kernel's build pipeline (see ``_repetition_metrics``)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    grams = docs.filter(F.size("toks") >= 2).select(
        "doc_id",
        "source",
        F.explode(word_bigrams("toks")).alias("gram"),
    )
    return (
        grams.groupBy("doc_id", "source", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("dup_occ"),
        )
    )


@query(
    "doc_repetition_profile",
    oracle=_REP_ORACLE_PREFIX
    + """
    SELECT doc_id, n_grams, dup_occ,
           FLOOR(CAST(dup_occ AS DOUBLE) / CAST(n_grams AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS dup_frac
    FROM m
    """,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-bigram diagnostic (see the section note).

    ``dup_frac`` is display-quantized half-up to 4 decimals (the
    repo-wide float discipline); the filter census gates on the exact
    integer rational instead, never on this rounded value.
    """
    m = _repetition_metrics(spark, sf_dir)
    return m.select(
        "doc_id",
        "n_grams",
        "dup_occ",
        (
            F.floor(
                F.col("dup_occ").cast("double")
                / F.col("n_grams").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("dup_frac"),
    )


#: shared by the batch census and its streaming ingest-gate twin
#: (streaming/micro_batch.py::streaming_repetition_gate) — one SQL
#: truth, two engine paths.
REPETITION_CENSUS_ORACLE = (
    _REP_ORACLE_PREFIX
    + f""",
    k AS (
      SELECT t.source,
             CASE WHEN COALESCE(m.dup_occ, 0) * {REP_DUP_DEN}
                       > COALESCE(m.n_grams, 0) * {REP_DUP_NUM}
                  THEN 0 ELSE 1 END AS keep
      FROM t LEFT JOIN m ON m.doc_id = t.doc_id
    )
    SELECT source,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
    FROM k GROUP BY source
    """
)


def repetition_gate_census(docs: DataFrame) -> DataFrame:
    """The repetition gate as a STATELESS per-row kernel + ONE
    aggregate — the shape Structured Streaming can run (chained
    stateful aggregations cannot stream; the batch census's
    per-(doc, gram) -> per-doc -> per-source chain has three).

    Per-row HOFs compute the same integers the explode+groupBy kernel
    aggregates: dup_occ = n_grams − |grams occurring exactly once| —
    identical by the count-partition identity, pinned equal to the
    batch census by tests/test_corpus_curation.py. Per-row cost is
    O(L log L) in token count: ``array_sort`` the gram array once,
    then count singletons by adjacent inequality in one linear
    ``filter`` pass over positions — a pathological long document
    costs one sort, not a distinct×length rescan. The batch census's
    explode+groupBy stays the right shape for corpus-wide re-scans
    (map-side combine across docs); this kernel is for scoring each
    arriving doc once at ingest.
    """
    toks = docs.select("source", F.split("text", " ").alias("toks"))
    grams = toks.select(
        "source",
        F.when(F.size("toks") >= 2, word_bigrams("toks"))
        .otherwise(F.expr("CAST(array() AS array<string>)"))
        .alias("g"),
    )
    # Sorted copy once per row; a gram at 1-based position i of s is a
    # singleton iff it differs from both neighbours. sequence(1, 0)
    # would step DOWNWARD in Spark, so the empty-gram row is gated
    # before the position scan.
    sorted_grams = grams.select(
        "source", "g", F.array_sort("g").alias("s")
    )
    singletons = F.expr(
        "size(filter(sequence(1, size(s)), i ->"
        " (i = 1 OR element_at(s, i) != element_at(s, i - 1)) AND"
        " (i = size(s) OR element_at(s, i) != element_at(s, i + 1))))"
    )
    metrics = sorted_grams.select(
        "source",
        F.size("g").cast("long").alias("n_grams"),
        F.when(F.size("g") > 0, F.size("g") - singletons)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_occ"),
    )
    dropped = (
        F.col("dup_occ") * REP_DUP_DEN > F.col("n_grams") * REP_DUP_NUM
    )
    return metrics.groupBy("source").agg(
        F.sum((~dropped).cast("long")).cast("long").alias("n_kept"),
        F.sum(dropped.cast("long")).cast("long").alias("n_dropped"),
    )


@query("repetition_filter_census", oracle=REPETITION_CENSUS_ORACLE)
def repetition_filter_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-style repetition gate: kept/dropped per source under
    dup_occ/n_grams > REP_DUP_NUM/REP_DUP_DEN, compared by integer
    cross-multiplication so no float enters the decision. Docs without
    bigrams (< 2 tokens) have no repetition evidence and are kept."""
    spine = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    m = _repetition_metrics(spark, sf_dir).select(
        "doc_id", "n_grams", "dup_occ"
    )
    dropped = (
        F.coalesce(F.col("dup_occ"), F.lit(0)) * REP_DUP_DEN
        > F.coalesce(F.col("n_grams"), F.lit(0)) * REP_DUP_NUM
    )
    return (
        spine.join(m, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum((~dropped).cast("long")).cast("long").alias("n_kept"),
            F.sum(dropped.cast("long")).cast("long").alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# E4/E6 (round 15, line rules round 16): the FULL Gopher document-
# quality rule set (Rae et al. 2021, arXiv:2112.11446 §A1.1) as one
# composite gate — the standard pre-training quality filter the
# repetition gate above is one clause of. Eleven rules, every decision
# an integer comparison or integer cross-multiplication so no float
# enters any gate:
#   1. word count within [GQ_MIN_WORDS, GQ_MAX_WORDS];
#   2. mean word length within [GQ_MIN_MEAN_LEN, GQ_MAX_MEAN_LEN]
#      (sum_chars vs n_tokens cross-multiplied; for single-space-
#      joined text sum_chars = length(text) − (n_tokens − 1));
#   3. symbol-to-word ratio ('#' and '...') at most
#      GQ_SYM_NUM/GQ_SYM_DEN — symbol hits counted by length deltas
#      under replace(), ellipses length-3-normalized;
#   4. at least GQ_ALPHA_NUM/GQ_ALPHA_DEN of words contain an
#      alphabetic character;
#   5. at least GQ_MIN_STOP distinct stopwords present (the corpus
#      stopword set of functions/text_metrics.py);
#   6. duplicate-LINE fraction at most GQ_DLINE_NUM/GQ_DLINE_DEN —
#      a line is a duplicate occurrence iff it equals an earlier line
#      of the SAME document (per distinct line with count c: c−1
#      duplicate occurrences, the DataTrove/NeMo-Curator counting);
#   7. duplicate-line CHARACTER fraction at most
#      GQ_DLCHAR_NUM/GQ_DLCHAR_DEN (chars of those c−1 occurrences
#      over total line chars);
#   8./9. the same two fractions at PARAGRAPH granularity
#      (GQ_DPARA_*, GQ_DPCHAR_* — Gopher's own 30%/20% bounds);
#  10. at most GQ_BULLET_NUM/GQ_BULLET_DEN of lines may start with a
#      bullet marker (GQ_BULLETS);
#  11. at most GQ_ELL_NUM/GQ_ELL_DEN of lines may end with '...'.
# Line/paragraph segmentation: Gopher splits on '\n' / '\n\n'. The
# driver fixture is single-line single-space text, so the REGISTERED
# queries segment on fixed token widths instead — GQ_LINE_W-token
# lines, GQ_PARA_W-token paragraphs (``fixture_segment_cols``), the
# documented synthetic line structure; a real corpus passes
# newline-split arrays through the same kernel
# (``newline_segment_cols``, what the constructed-corpus pytest
# drives). Per-row duplicate counting is the repetition-gate idiom:
# one array_sort per granularity + a linear adjacent-equality scan —
# O(L log L), never distinct×length.
# Bounds 2's lower edge, 1's floor, and the LINE-duplicate bounds
# 6/7 (1/20, vs Gopher's 3/10 and 2/10) are tuned so the gate splits
# the driver fixture non-degenerately at every SF (the REP_DUP
# precedent); rules 3, 4, 8, 9, 10 and 11 are vacuous on the
# all-alphabetic single-line fixture and are exercised by the
# constructed-corpus pytest. Scale shape: every metric is a per-row
# projection over one corpus scan; the census is one map-side-combined
# groupBy(source) — no joins, no windows, nothing data-proportional
# held anywhere.
GQ_MIN_WORDS = 30
GQ_MAX_WORDS = 100_000
GQ_MIN_MEAN_LEN = 4
GQ_MAX_MEAN_LEN = 10
GQ_SYM_NUM, GQ_SYM_DEN = 1, 10
GQ_ALPHA_NUM, GQ_ALPHA_DEN = 8, 10
GQ_MIN_STOP = 2
GQ_LINE_W = 3  # tokens per synthetic fixture line
GQ_PARA_W = 12  # tokens per synthetic fixture paragraph
GQ_DLINE_NUM, GQ_DLINE_DEN = 1, 20  # tuned (Gopher: 3/10)
GQ_DLCHAR_NUM, GQ_DLCHAR_DEN = 1, 20  # tuned (Gopher: 2/10)
GQ_DPARA_NUM, GQ_DPARA_DEN = 3, 10  # Gopher A1.1
GQ_DPCHAR_NUM, GQ_DPCHAR_DEN = 2, 10  # Gopher A1.1
GQ_BULLET_NUM, GQ_BULLET_DEN = 9, 10  # Gopher A1.1 (90% bullet lines)
GQ_ELL_NUM, GQ_ELL_DEN = 3, 10  # Gopher A1.1 (30% ellipsis lines)
GQ_BULLETS = ("-", "*")
#: rule verdict column order — the kernel's ok list, the profile's
#: output, and the census's f_* tallies all derive from this one tuple.
GQ_RULE_NAMES = (
    "ok_word_count",
    "ok_mean_len",
    "ok_symbol",
    "ok_alpha",
    "ok_stopword",
    "ok_dup_line",
    "ok_dup_line_char",
    "ok_dup_para",
    "ok_dup_para_char",
    "ok_bullet",
    "ok_ellipsis",
)
#: one stopword set, interpolated into BOTH engine halves (the GQ_*
#: constant discipline — two inline literals would desynchronize the
#: engines the first time the list grows toward Gopher's real 8).
GQ_STOPWORDS = ("the", "a")
_GQ_STOP_SQL = ", ".join(f"'{w}'" for w in GQ_STOPWORDS)

def _duck_seg_list(width: int) -> str:
    """Fixed-width token segmentation as a DuckDB list expression —
    the oracle half of ``fixture_segment_cols`` (same ceil-division,
    same 1-based inclusive slice semantics)."""
    return (
        f"list_transform(generate_series(0, CAST((len(toks) + {width - 1})"
        f" // {width} AS BIGINT) - 1),"
        f" i -> array_to_string(toks[i*{width}+1:(i+1)*{width}], ' '))"
    )


def _duck_dup_cols(seg: str, srt: str, n_alias: str, d_alias: str) -> str:
    """The four per-granularity duplicate metrics over a segment list
    column ``seg`` and its sorted copy ``srt`` — duplicate occurrences
    counted by adjacent equality in the sorted copy (i > 1 guards the
    scan; generate_series(1, len) is never descending in DuckDB)."""
    dup_idx = (
        f"list_filter(generate_series(1, len({srt})),"
        f" i -> i > 1 AND {srt}[i] = {srt}[i-1])"
    )
    return f"""
             CAST(len({seg}) AS BIGINT) AS n_{n_alias},
             CAST(len({dup_idx}) AS BIGINT) AS dup_{n_alias},
             CAST(COALESCE(list_sum(list_transform({dup_idx},
                    i -> length({srt}[i]))), 0) AS BIGINT)
               AS dup_{d_alias}_chars,
             CAST(COALESCE(list_sum(list_transform({seg},
                    l -> length(l))), 0) AS BIGINT) AS {d_alias}_chars"""


#: the 10 line/paragraph metric columns (over a ``srt`` CTE exposing
#: lines/paras and their sorted copies) — ONE string, interpolated
#: into the composite-gate oracle AND the standalone line-repetition
#: oracles so the two never desynchronize.
#: oracle bullet predicate generated from GQ_BULLETS — one constant,
#: both engine halves (the GQ_STOPWORDS discipline). The markers are
#: interpolated into LIKE patterns, so any future marker containing a
#: LIKE metacharacter ('%', '_') must be escaped here.
_GQ_BULLET_SQL = " OR ".join(f"l LIKE '{b}%'" for b in GQ_BULLETS)

_GQ_LINEM_COLS = f"""{_duck_dup_cols('lines', 's_lines', 'lines', 'line')},
{_duck_dup_cols('paras', 's_paras', 'paras', 'para')},
             CAST(len(list_filter(lines,
                    l -> {_GQ_BULLET_SQL})) AS BIGINT)
               AS bullet_lines,
             CAST(len(list_filter(lines, l -> l LIKE '%...'))
                  AS BIGINT) AS ellipsis_lines"""

#: shared segmentation CTE chain: documents -> toks -> fixed-width
#: lines/paras -> sorted copies.
_GQ_SEG_CTES = f"""
    segd AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS toks
      FROM documents
    ),
    seg AS (
      SELECT doc_id, source, text, toks,
             {_duck_seg_list(GQ_LINE_W)} AS lines,
             {_duck_seg_list(GQ_PARA_W)} AS paras
      FROM segd
    ),
    srt AS (
      SELECT *, list_sort(lines) AS s_lines, list_sort(paras) AS s_paras
      FROM seg
    )"""

_GQ_ORACLE_PREFIX = f"""
    WITH {_GQ_SEG_CTES},
    m AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) - (len(string_split(text, ' ')) - 1)
                  AS BIGINT) AS sum_chars,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS sym_hits,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> regexp_matches(t, '[A-Za-z]')))
                  AS BIGINT) AS alpha_words,
             CAST(len(list_filter(list_distinct(string_split(text, ' ')),
                                  t -> t IN ({_GQ_STOP_SQL})))
                  AS BIGINT) AS n_stop,
             {_GQ_LINEM_COLS}
      FROM srt
    ),
    r AS (
      SELECT doc_id, source, n_tokens, sum_chars, sym_hits, alpha_words,
             n_stop, n_lines, dup_lines, dup_line_chars, line_chars,
             n_paras, dup_paras, dup_para_chars, para_chars,
             bullet_lines, ellipsis_lines,
             CASE WHEN n_tokens >= {GQ_MIN_WORDS}
                   AND n_tokens <= {GQ_MAX_WORDS} THEN 1 ELSE 0 END
               AS ok_word_count,
             CASE WHEN sum_chars >= {GQ_MIN_MEAN_LEN} * n_tokens
                   AND sum_chars <= {GQ_MAX_MEAN_LEN} * n_tokens
                  THEN 1 ELSE 0 END AS ok_mean_len,
             CASE WHEN {GQ_SYM_DEN} * sym_hits <= {GQ_SYM_NUM} * n_tokens
                  THEN 1 ELSE 0 END AS ok_symbol,
             CASE WHEN {GQ_ALPHA_DEN} * alpha_words
                       >= {GQ_ALPHA_NUM} * n_tokens
                  THEN 1 ELSE 0 END AS ok_alpha,
             CASE WHEN n_stop >= {GQ_MIN_STOP} THEN 1 ELSE 0 END
               AS ok_stopword,
             CASE WHEN dup_lines * {GQ_DLINE_DEN}
                       <= n_lines * {GQ_DLINE_NUM} THEN 1 ELSE 0 END
               AS ok_dup_line,
             CASE WHEN dup_line_chars * {GQ_DLCHAR_DEN}
                       <= line_chars * {GQ_DLCHAR_NUM} THEN 1 ELSE 0 END
               AS ok_dup_line_char,
             CASE WHEN dup_paras * {GQ_DPARA_DEN}
                       <= n_paras * {GQ_DPARA_NUM} THEN 1 ELSE 0 END
               AS ok_dup_para,
             CASE WHEN dup_para_chars * {GQ_DPCHAR_DEN}
                       <= para_chars * {GQ_DPCHAR_NUM} THEN 1 ELSE 0 END
               AS ok_dup_para_char,
             CASE WHEN bullet_lines * {GQ_BULLET_DEN}
                       <= n_lines * {GQ_BULLET_NUM} THEN 1 ELSE 0 END
               AS ok_bullet,
             CASE WHEN ellipsis_lines * {GQ_ELL_DEN}
                       <= n_lines * {GQ_ELL_NUM} THEN 1 ELSE 0 END
               AS ok_ellipsis
      FROM m
    ),
    k AS (
      SELECT *, ok_word_count * ok_mean_len * ok_symbol * ok_alpha
                * ok_stopword * ok_dup_line * ok_dup_line_char
                * ok_dup_para * ok_dup_para_char * ok_bullet
                * ok_ellipsis AS keep
      FROM r
    )"""


def _gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rule relation shared by its five batch consumers
    (profile, census, gate-agreement matrix, and both line-family
    diagnostics, whose metric columns are a subset) — one corpus
    scan, all-projection (no joins, no windows).

    Memoized per (application, sf_dir) via ``shared_stage`` (the
    ``_repetition_metrics`` pattern): since the eleven-rule extension
    each row pays segmentation plus two array_sorts, and a registry
    pass used to recompute that projection from scratch three times
    (VERDICT r16 task 5). The streaming twin deliberately does NOT go
    through this memo — its kernel must stay a stateless per-batch
    projection (``gopher_census_kernel`` below)."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("gopher_rules", sf_dir),
        lambda: gopher_rules_kernel(load_table(spark, sf_dir, "documents")),
    )


def fixture_segment_cols() -> tuple:
    """Fixed-width token segmentation of single-line fixture text into
    ``lines`` (GQ_LINE_W tokens) and ``paras`` (GQ_PARA_W tokens) —
    the registered queries' line structure (see the section note).
    Ceil-division bound keeps the trailing partial segment; slice()
    with 1-based start + length mirrors DuckDB's inclusive 1-based
    list slice exactly."""

    def seg(width: int):
        return F.expr(
            f"transform(sequence(0,"
            f" (size(split(text, ' ')) + {width - 1}) div {width} - 1),"
            f" i -> array_join(slice(split(text, ' '),"
            f" i * {width} + 1, {width}), ' '))"
        )

    return seg(GQ_LINE_W).alias("lines"), seg(GQ_PARA_W).alias("paras")


def newline_segment_cols() -> tuple:
    """Real-corpus segmentation: lines on '\\n', paragraphs on '\\n\\n'
    — Gopher A1.1's own delimiters. What the constructed-corpus pytest
    drives through the same kernel; swap this in for
    ``fixture_segment_cols`` on a corpus with genuine line structure."""
    return (
        F.split("text", "\n").alias("lines"),
        F.split("text", "\n\n").alias("paras"),
    )


def _line_metric_exprs() -> list:
    """The 10 line/paragraph metric columns over a relation exposing
    lines/paras and sorted copies s_lines/s_paras. Duplicate
    occurrences by adjacent equality in the sorted copy — one
    O(L log L) sort + one linear scan per granularity, the
    repetition-gate idiom; sequence(1, size) never descends because
    split() arrays are non-empty, and ``i > 1`` guards element_at."""

    def dup_cols(seg: str, srt: str, n_alias: str, d_alias: str):
        dup_idx = (
            f"filter(sequence(1, size({srt})),"
            f" i -> i > 1 AND element_at({srt}, i) ="
            f" element_at({srt}, i - 1))"
        )
        return [
            F.size(seg).cast("long").alias(f"n_{n_alias}"),
            F.expr(f"size({dup_idx})").cast("long").alias(f"dup_{n_alias}"),
            F.expr(
                f"aggregate({dup_idx}, 0L,"
                f" (a, i) -> a + length(element_at({srt}, i)))"
            ).cast("long").alias(f"dup_{d_alias}_chars"),
            F.expr(
                f"aggregate({seg}, 0L, (a, l) -> a + length(l))"
            ).cast("long").alias(f"{d_alias}_chars"),
        ]

    bullet_pred = " OR ".join(
        f"startswith(l, '{b}')" for b in GQ_BULLETS
    )
    return [
        *dup_cols("lines", "s_lines", "lines", "line"),
        *dup_cols("paras", "s_paras", "paras", "para"),
        F.expr(f"size(filter(lines, l -> {bullet_pred}))")
        .cast("long")
        .alias("bullet_lines"),
        F.expr("size(filter(lines, l -> endswith(l, '...')))")
        .cast("long")
        .alias("ellipsis_lines"),
    ]


def _segmented(
    docs: DataFrame, segment_cols=None, with_sorted: bool = True
) -> DataFrame:
    """(doc_id, source, text, lines, paras[, s_lines, s_paras]) — the
    one segmentation-frame construction every line-family kernel
    builds on; ``segment_cols`` defaults to the fixture's fixed-width
    splitter (pass ``newline_segment_cols`` for a real corpus)."""
    if segment_cols is None:
        segment_cols = fixture_segment_cols
    seg = docs.select("doc_id", "source", "text", *segment_cols())
    if not with_sorted:
        return seg
    return seg.select(
        "*",
        F.array_sort("lines").alias("s_lines"),
        F.array_sort("paras").alias("s_paras"),
    )


def gopher_rules_kernel(docs: DataFrame, segment_cols=None) -> DataFrame:
    """The rule arithmetic as a STATELESS per-row kernel over any
    (doc_id, source, text) relation — shared by the batch queries and
    the streaming ingest twin (streaming/micro_batch.py::
    streaming_gopher_gate); every metric is a projection, so the
    kernel streams as-is. ``segment_cols`` picks the line structure
    (default: the fixture's fixed-width segmentation; pass
    ``newline_segment_cols`` for a real newline corpus)."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    sum_chars = (F.length("text") - (F.size(toks) - 1)).cast("long")
    sym_hits = (
        (F.length("text") - F.length(F.expr("replace(text, '#', '')")))
        + F.expr(
            "(length(text) - length(replace(text, '...', ''))) div 3"
        )
    ).cast("long")
    # [A-Za-z], not [a-z]: all-caps words ('NASA') are alphabetic under
    # Gopher A1.1. Non-ASCII alphabets still count as non-alphabetic —
    # the documented ASCII-corpus precondition of this rule set.
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.filter(F.array_distinct(toks), lambda t: t.isin(*GQ_STOPWORDS))
    ).cast("long")
    srt = _segmented(docs, segment_cols)
    m = srt.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        sum_chars.alias("sum_chars"),
        sym_hits.alias("sym_hits"),
        alpha_words.alias("alpha_words"),
        n_stop.alias("n_stop"),
        *_line_metric_exprs(),
    )
    ok = [
        (
            (F.col("n_tokens") >= GQ_MIN_WORDS)
            & (F.col("n_tokens") <= GQ_MAX_WORDS)
        ).alias("ok_word_count"),
        (
            (F.col("sum_chars") >= GQ_MIN_MEAN_LEN * F.col("n_tokens"))
            & (F.col("sum_chars") <= GQ_MAX_MEAN_LEN * F.col("n_tokens"))
        ).alias("ok_mean_len"),
        (
            GQ_SYM_DEN * F.col("sym_hits")
            <= GQ_SYM_NUM * F.col("n_tokens")
        ).alias("ok_symbol"),
        (
            GQ_ALPHA_DEN * F.col("alpha_words")
            >= GQ_ALPHA_NUM * F.col("n_tokens")
        ).alias("ok_alpha"),
        (F.col("n_stop") >= GQ_MIN_STOP).alias("ok_stopword"),
        (
            F.col("dup_lines") * GQ_DLINE_DEN
            <= F.col("n_lines") * GQ_DLINE_NUM
        ).alias("ok_dup_line"),
        (
            F.col("dup_line_chars") * GQ_DLCHAR_DEN
            <= F.col("line_chars") * GQ_DLCHAR_NUM
        ).alias("ok_dup_line_char"),
        (
            F.col("dup_paras") * GQ_DPARA_DEN
            <= F.col("n_paras") * GQ_DPARA_NUM
        ).alias("ok_dup_para"),
        (
            F.col("dup_para_chars") * GQ_DPCHAR_DEN
            <= F.col("para_chars") * GQ_DPCHAR_NUM
        ).alias("ok_dup_para_char"),
        (
            F.col("bullet_lines") * GQ_BULLET_DEN
            <= F.col("n_lines") * GQ_BULLET_NUM
        ).alias("ok_bullet"),
        (
            F.col("ellipsis_lines") * GQ_ELL_DEN
            <= F.col("n_lines") * GQ_ELL_NUM
        ).alias("ok_ellipsis"),
    ]
    # cast-after-alias would bury the name inside the CAST; re-alias
    # from the boolean's own alias metadata instead
    rules = m.select(
        "*",
        *[
            o.cast("long").alias(name)
            for o, name in zip(ok, GQ_RULE_NAMES)
        ],
    )
    keep = F.lit(1)
    for name in GQ_RULE_NAMES:
        keep = keep * F.col(name)
    return rules.select("*", keep.cast("long").alias("keep"))


#: raw metric output order, shared by the profile oracle and docs.
GQ_METRIC_NAMES = (
    "n_tokens",
    "sum_chars",
    "sym_hits",
    "alpha_words",
    "n_stop",
    "n_lines",
    "dup_lines",
    "dup_line_chars",
    "line_chars",
    "n_paras",
    "dup_paras",
    "dup_para_chars",
    "para_chars",
    "bullet_lines",
    "ellipsis_lines",
)

_GQ_PROFILE_SELECT = (
    "\n    SELECT doc_id, "
    + ", ".join(GQ_METRIC_NAMES)
    + ",\n"
    + ",\n".join(
        f"           CAST({n} AS BIGINT) AS {n}"
        for n in (*GQ_RULE_NAMES, "keep")
    )
    + "\n    FROM k\n    "
)


@query(
    "doc_gopher_quality_profile",
    oracle=_GQ_ORACLE_PREFIX + _GQ_PROFILE_SELECT,
)
def doc_gopher_quality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document Gopher rule evaluation (see the section note):
    the raw integer metrics, one 0/1 verdict per rule, and the
    composite keep flag — the artifact a curation run audits when a
    gate's pass rate moves."""
    return _gopher_rules(spark, sf_dir).drop("source")


#: shared by the batch census and its streaming ingest-gate twin
#: (streaming/micro_batch.py::streaming_gopher_gate) — one SQL truth,
#: two engine paths (the REPETITION_CENSUS_ORACLE pattern).
GOPHER_CENSUS_ORACLE = (
    _GQ_ORACLE_PREFIX
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT)            AS n_docs,
           CAST(SUM(keep) AS BIGINT)           AS n_kept,
"""
    + ",\n".join(
        f"           CAST(SUM(1 - {n}) AS BIGINT) AS f_{n[3:]}"
        for n in GQ_RULE_NAMES
    )
    + """
    FROM k GROUP BY source
    """
)


def gopher_census_agg(rules: DataFrame) -> DataFrame:
    """The census's aggregation half over an EXISTING rules relation
    (``gopher_rules_kernel`` output or the shared ``_gopher_rules``
    memo) — one map-side-combined groupBy(source)."""
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        *[
            F.sum(1 - F.col(n)).cast("long").alias(f"f_{n[3:]}")
            for n in GQ_RULE_NAMES
        ],
    )


def gopher_census_kernel(docs: DataFrame, segment_cols=None) -> DataFrame:
    """Rules + ONE aggregate over any (doc_id, source, text) relation —
    the whole gate is a stateless projection into a single groupBy, so
    it streams unchanged (no multi-aggregation chain to break up)."""
    return gopher_census_agg(gopher_rules_kernel(docs, segment_cols))


@query("gopher_quality_census", oracle=GOPHER_CENSUS_ORACLE)
def gopher_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher gate census: kept count plus per-rule failure
    counts (a doc can fail several rules; the columns are independent
    tallies, not a partition). One scan, one map-side-combined
    groupBy — nothing data-proportional retained; the scan itself is
    the shared rules memo, paid once per session pass."""
    return gopher_census_agg(_gopher_rules(spark, sf_dir))


# --------------------------------------------------------------------------
# E4 (round 16): the line/paragraph repetition DIAGNOSTICS behind
# Gopher rules 6–11 — the raw per-document numerators/denominators
# (no verdicts: the artifact a curation run reads when a line-rule
# pass rate moves), and the per-source MASS census (how many of a
# source's line-characters are duplicated boilerplate — a different
# dashboard row from the composite census's per-DOC failure counts:
# one long boilerplate doc can carry most of a source's duplicate
# mass while failing only one gate). Same kernel, same segmentation,
# same scale shape as the composite: per-row projections into one
# map-side-combined groupBy.


def line_metrics_kernel(docs: DataFrame, segment_cols=None) -> DataFrame:
    """The 10 line/paragraph metrics as a stateless per-row relation
    over any (doc_id, source, text) input — the line-granularity half
    of ``gopher_rules_kernel``, exposed for the diagnostics."""
    srt = _segmented(docs, segment_cols)
    return srt.select("doc_id", "source", *_line_metric_exprs())


_LINEM_NAMES = GQ_METRIC_NAMES[5:]  # the 10 line/para metric columns

_LINE_PROFILE_ORACLE = f"""
    WITH {_GQ_SEG_CTES},
    m AS (
      SELECT doc_id, source,
             {_GQ_LINEM_COLS}
      FROM srt
    )
    SELECT doc_id, {", ".join(_LINEM_NAMES)} FROM m
    """


@query("doc_line_repetition_profile", oracle=_LINE_PROFILE_ORACLE)
def doc_line_repetition_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document line/paragraph repetition and format metrics (see
    the section note) — integer numerators and denominators only; any
    gate compares them by cross-multiplication downstream.

    Reads the shared ``_gopher_rules`` memo (its metric columns are a
    strict superset of ``line_metrics_kernel``'s) rather than paying
    the segmentation + double array_sort projection again; the kernel
    itself stays exposed for streaming/custom-segmentation callers."""
    return _gopher_rules(spark, sf_dir).select("doc_id", *_LINEM_NAMES)


_LINE_CENSUS_ORACLE = f"""
    WITH {_GQ_SEG_CTES},
    m AS (
      SELECT doc_id, source,
             {_GQ_LINEM_COLS}
      FROM srt
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
{",".join(chr(10) + f"           CAST(SUM({n}) AS BIGINT) AS {n}" for n in _LINEM_NAMES)}
    FROM m GROUP BY source
    """


@query("line_repetition_census", oracle=_LINE_CENSUS_ORACLE)
def line_repetition_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-line MASS census: summed line/paragraph
    counts, duplicate occurrences, and character totals — the
    corpus-level boilerplate budget per source. One scan (the shared
    ``_gopher_rules`` memo), one map-side-combined groupBy(source)."""
    m = _gopher_rules(spark, sf_dir)
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[F.sum(n).cast("long").alias(n) for n in _LINEM_NAMES],
    )


# --------------------------------------------------------------------------
# E2/E4 (round 16): CORPUS-WIDE boilerplate lines — identify WHAT the
# repeated lines are (the CCNet recipe: hash every line, drop lines
# whose corpus doc-frequency clears a threshold — headers, footers,
# cookie banners, navigation chrome), and the excision transform that
# removes them. Complements the per-document rules above: the Gopher
# line rules drop whole documents that are internally repetitive;
# this pair cleans the SURVIVORS of cross-document template text.
#
# Same segmentation seam as the rest of the line family: the kernels
# (``pos_lines_kernel`` / ``boilerplate_lines_kernel`` /
# ``boilerplate_excise_kernel``) take ``segment_cols`` plus the
# rebuild separator; the REGISTERED queries bind the fixture's
# fixed-width splitter with ' ' rejoin, a real corpus passes
# ``newline_segment_cols`` with '\n' (the newline-path pytest drives
# exactly that).
#
# Scale shape: one line explode into a map-side-combined
# groupBy(line) census (two count-distincts, one count — a single
# expand aggregate); the excision anti-joins the per-position line
# relation against the boilerplate set on the line value (a shuffle
# equi-join; the boilerplate relation is the df-thresholded census,
# typically tiny, and AQE broadcasts it when it is) and rebuilds each
# document with sort_array(struct(pos, line)) — per-doc work, never a
# window. No driver collect, nothing corpus-proportional broadcast.
BP_MIN_DF = 5  # min distinct-doc frequency to call a line boilerplate
# (tuned to split the driver fixture non-degenerately at every SF —
# the REP_DUP precedent; CCNet-scale corpora use much higher
# absolute thresholds with the same plan)

#: doc-position line relation + the df census, shared by both queries.
_BP_CTES = f"""
    {_GQ_SEG_CTES},
    pos_lines AS (
      SELECT doc_id, source, i AS pos, lines[i] AS line
      FROM seg, UNNEST(generate_series(1, len(lines))) AS t(i)
    ),
    linedf AS (
      SELECT line,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM pos_lines GROUP BY line
    ),
    bp AS (
      SELECT line, df_docs, n_sources, n_occ FROM linedf
      WHERE df_docs >= {BP_MIN_DF}
    )"""


def pos_lines_kernel(docs: DataFrame, segment_cols=None) -> DataFrame:
    """(doc_id, source, pos, line) — every line occurrence with its
    1-based position, over any (doc_id, source, text) relation."""
    seg = _segmented(docs, segment_cols, with_sorted=False)
    return seg.select(
        "doc_id",
        "source",
        F.posexplode("lines").alias("pos0", "line"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "line")


def boilerplate_lines_kernel(pos: DataFrame) -> DataFrame:
    """The df-thresholded census over a pos-line relation."""
    return (
        pos.groupBy("line")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("df_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("df_docs") >= BP_MIN_DF)
    )


def boilerplate_excise_kernel(
    pos: DataFrame, bp: DataFrame, sep: str = " "
) -> DataFrame:
    """Rebuild each document from its non-boilerplate lines in
    original order, joined with ``sep`` (the segmentation's inverse:
    ' ' for fixed-width token lines, '\\n' for newline lines). The doc
    spine derives from the SAME pos relation (every split() yields at
    least one line, so no doc can drop off it) — no second corpus
    scan or segmentation pass."""
    kept = pos.join(bp.select("line"), "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    spine = pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    return spine.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0))
        .cast("long")
        .alias("n_lines_kept"),
        (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
        .cast("long")
        .alias("n_lines_cut"),
    )


def _pos_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' pos-line relation: fixture
    segmentation over the driver documents table. Optimization round
    17: ``shared_stage``-memoized — its two consumers (the boilerplate
    census build and the excision transform) each re-exploded the
    corpus into lines per invocation."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("pos_lines", sf_dir),
        lambda: pos_lines_kernel(load_table(spark, sf_dir, "documents")),
    )


def _boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-thresholded boilerplate line census — memoized via
    ``shared_stage`` so the census query and the excision transform
    pay the corpus line explode + aggregate once per session."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("boilerplate_lines", sf_dir),
        lambda: boilerplate_lines_kernel(_pos_lines(spark, sf_dir)),
    )


@query(
    "boilerplate_lines_census",
    oracle=f"""
    WITH {_BP_CTES}
    SELECT line, df_docs, n_sources, n_occ FROM bp
    """,
)
def boilerplate_lines_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide boilerplate line set (see the section note):
    every line whose distinct-doc frequency clears BP_MIN_DF, with its
    doc frequency, source spread (n_sources > 1 = cross-source
    template/mirror signal), and total occurrence count."""
    return _boilerplate_lines(spark, sf_dir)


@query(
    "boilerplate_excised_docs",
    oracle=f"""
    WITH {_BP_CTES},
    kept AS (
      SELECT p.doc_id, p.pos, p.line
      FROM pos_lines p
      WHERE p.line NOT IN (SELECT line FROM bp)
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, ' ' ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_lines_kept
      FROM kept GROUP BY doc_id
    ),
    spine AS (
      SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines FROM seg
    )
    SELECT s.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
           s.n_lines - COALESCE(r.n_lines_kept, 0) AS n_lines_cut
    FROM spine s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
    """,
)
def boilerplate_excised_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate-removal transform: each document rebuilt with
    corpus-boilerplate lines cut, in original line order, plus the
    kept/cut accounting. Docs whose every line is boilerplate stay on
    the spine as empty rows (the span-excision contract)."""
    return boilerplate_excise_kernel(
        _pos_lines(spark, sf_dir), _boilerplate_lines(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# E4 (round 17): the C4 rule set (Raffel et al. 2020 §2.2, VERDICT r16
# task 3) — the standard companion gate every production pipeline runs
# before Gopher: C4 is a LINE-drop transform (keep only lines that end
# in a terminal mark and clear a word floor) plus three PAGE-drop
# rules (placeholder-text blocklist, curly-brace code leak, a minimum
# retained-line floor — C4's three-sentence rule, counted over the
# kept lines the transform itself produces).
#
# Same segmentation seam as the rest of the line family: the kernels
# take ``segment_cols`` plus the terminal-marker set, and the
# REGISTERED queries bind the fixture's fixed-width splitter with a
# fixture-tuned marker set (the corpus has no punctuation at all, so
# C4's literal ('.', '!', '?', '"') set would drop every line — the
# GQ threshold-tuning / REP_DUP precedent: structure from the paper,
# constants tuned to split the driver fixture non-degenerately at
# every SF). The constructed-corpus pytest drives the REAL
# punctuation set (C4_PUNCT_TERMINALS) and '\n' segmentation through
# the same kernel.
#
# Scale shape: every rule is a per-row HOF projection (filter() over
# the line array — no explode, no join, no window); the census is one
# map-side-combined groupBy(source); the kept-docs rebuild is
# filter() + array_join per row, order preserved by construction (no
# sort needed — C4's advantage over the positional boilerplate
# excision above). The three batch consumers share one shared_stage'd
# relation (the _gopher_rules pattern); the streaming twin composes
# the stateless kernel into one complete-mode census.
C4_MIN_LINE_WORDS = 3  # C4: >= 5 words; fixture lines are 3-token
C4_MIN_KEPT_LINES = 6  # C4: >= 3 sentences; tuned (see above)
C4_TERMINALS = ("e", "t")  # fixture binding; real corpora use
C4_PUNCT_TERMINALS = (".", "!", "?", '"')  # ... this set (the paper's)
C4_BLOCKLIST = ("lorem ipsum",)  # page-drop phrases, lowercased match

#: rule/verdict column order, shared by both engine halves and docs.
C4_METRIC_NAMES = ("n_lines", "kept_lines", "bad_terminal", "bad_short")
C4_RULE_NAMES = ("ok_blocklist", "ok_brace", "ok_min_lines")


def _c4_term_pred(terminals, endswith_fn: str) -> str:
    """Terminal-line predicate over a lambda var ``l`` — one string
    per engine (``endswith_fn`` = 'endswith' Spark / 'ends_with'
    DuckDB). Markers are interpolated into string literals, so any
    future marker containing a single quote must be escaped here
    (the _GQ_BULLET_SQL caveat)."""
    return "(" + " OR ".join(
        f"{endswith_fn}(l, '{t}')" for t in terminals
    ) + ")"


#: blocklist predicate over ``text`` — phrases are LIKE-interpolated
#: (lowercased haystack), so a future phrase containing '%'/'_' must
#: be escaped here.
_C4_BLOCK_SQL = " AND ".join(
    f"lower(text) NOT LIKE '%{p}%'" for p in C4_BLOCKLIST
)

_C4_TERM_DUCK = _c4_term_pred(C4_TERMINALS, "ends_with")
_C4_SHORT_DUCK = f"len(string_split(l, ' ')) < {C4_MIN_LINE_WORDS}"

#: doc-level C4 relation: line tallies + kept-line array + the three
#: page verdicts + composite keep — shared by all three oracles. The
#: BODY (everything after the segmentation chain) is its own constant
#: so composing oracles that already bind seg/srt (the funnel census
#: below, the quality_gate_agreement precedent) can reuse it without
#: duplicating CTE names.
_C4_BODY_CTES = f"""c4m AS (
      SELECT doc_id, source, text,
             CAST(len(lines) AS BIGINT) AS n_lines,
             list_filter(lines, l -> {_C4_TERM_DUCK}
                         AND NOT ({_C4_SHORT_DUCK})) AS kept,
             CAST(len(list_filter(lines, l -> NOT {_C4_TERM_DUCK}))
                  AS BIGINT) AS bad_terminal,
             CAST(len(list_filter(lines, l -> {_C4_SHORT_DUCK}))
                  AS BIGINT) AS bad_short
      FROM seg
    ),
    c4r AS (
      SELECT doc_id, source, text, n_lines,
             CAST(len(kept) AS BIGINT) AS kept_lines,
             bad_terminal, bad_short, kept,
             CASE WHEN {_C4_BLOCK_SQL} THEN 1 ELSE 0 END AS ok_blocklist,
             CASE WHEN text NOT LIKE '%{{%' THEN 1 ELSE 0 END AS ok_brace,
             CASE WHEN len(kept) >= {C4_MIN_KEPT_LINES} THEN 1 ELSE 0 END
               AS ok_min_lines
      FROM c4m
    ),
    c4k AS (
      SELECT *, ok_blocklist * ok_brace * ok_min_lines AS keep
      FROM c4r
    )"""

_C4_CTES = f"""
    {_GQ_SEG_CTES},
    {_C4_BODY_CTES}"""


def c4_rules_kernel(
    docs: DataFrame, segment_cols=None, terminals=None
) -> DataFrame:
    """The C4 rule arithmetic as a STATELESS per-row kernel over any
    (doc_id, source, text) relation — shared by the batch queries and
    the streaming ingest twin. ``segment_cols`` picks the line
    structure and ``terminals`` the terminal-marker set (defaults:
    the fixture bindings; pass ``newline_segment_cols`` +
    ``C4_PUNCT_TERMINALS`` for a real corpus). Output keeps the
    ``kept`` line array for the rebuild consumer."""
    terms = C4_TERMINALS if terminals is None else terminals
    term = _c4_term_pred(terms, "endswith")
    short = f"size(split(l, ' ')) < {C4_MIN_LINE_WORDS}"
    seg = _segmented(docs, segment_cols, with_sorted=False)
    m = seg.select(
        "doc_id",
        "source",
        "text",
        F.size("lines").cast("long").alias("n_lines"),
        F.expr(f"filter(lines, l -> {term} AND NOT ({short}))")
        .alias("kept"),
        F.expr(f"size(filter(lines, l -> NOT {term}))")
        .cast("long")
        .alias("bad_terminal"),
        F.expr(f"size(filter(lines, l -> {short}))")
        .cast("long")
        .alias("bad_short"),
    )
    r = m.select(
        "doc_id",
        "source",
        "n_lines",
        F.size("kept").cast("long").alias("kept_lines"),
        "bad_terminal",
        "bad_short",
        "kept",
        F.expr(_C4_BLOCK_SQL).cast("long").alias("ok_blocklist"),
        F.expr("text NOT LIKE '%{%'").cast("long").alias("ok_brace"),
        (F.size("kept") >= C4_MIN_KEPT_LINES)
        .cast("long")
        .alias("ok_min_lines"),
    )
    keep = F.lit(1)
    for name in C4_RULE_NAMES:
        keep = keep * F.col(name)
    return r.select("*", keep.cast("long").alias("keep"))


def c4_census_agg(rules: DataFrame) -> DataFrame:
    """The census's aggregation half over an existing C4 rules
    relation — one map-side-combined groupBy(source): page keep
    count, line-rule tallies, per-page-rule failure counts."""
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        *[
            F.sum(n).cast("long").alias(n)
            for n in C4_METRIC_NAMES
        ],
        *[
            F.sum(1 - F.col(n)).cast("long").alias(f"f_{n[3:]}")
            for n in C4_RULE_NAMES
        ],
    )


def c4_census_kernel(
    docs: DataFrame, segment_cols=None, terminals=None
) -> DataFrame:
    """Rules + ONE aggregate — stateless projection into a single
    groupBy, so it streams unchanged (the gopher_census_kernel
    shape)."""
    return c4_census_agg(c4_rules_kernel(docs, segment_cols, terminals))


def c4_kept_docs_kernel(rules: DataFrame, sep: str = " ") -> DataFrame:
    """The C4 transform's output: pages that pass every page rule,
    rebuilt from their kept lines in original order (filter()
    preserves array order — no positional sort needed), joined with
    ``sep`` (' ' for fixture token lines, '\\n' for newline lines)."""
    return rules.filter(F.col("keep") == 1).select(
        "doc_id",
        "source",
        F.array_join("kept", sep).alias("text_c4"),
        F.col("kept_lines").alias("kept_lines"),
    )


def _c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' rules relation — memoized per
    (application, sf_dir) via ``shared_stage`` (the ``_gopher_rules``
    pattern) so the profile, census, and kept-docs transform pay the
    segmentation + rule projection once per session pass."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("c4_rules", sf_dir),
        lambda: c4_rules_kernel(load_table(spark, sf_dir, "documents")),
    )


_C4_PROFILE_SELECT = (
    "\n    SELECT doc_id, "
    + ", ".join(C4_METRIC_NAMES)
    + ",\n"
    + ",\n".join(
        f"           CAST({n} AS BIGINT) AS {n}"
        for n in (*C4_RULE_NAMES, "keep")
    )
    + "\n    FROM c4k\n    "
)


@query(
    "doc_c4_quality_profile",
    oracle="\n    WITH " + _C4_CTES + _C4_PROFILE_SELECT,
)
def doc_c4_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 rule evaluation (see the section note): line
    tallies (total, kept, per-line-rule failure counts — a line can
    fail both line rules; independent tallies), one 0/1 verdict per
    page rule, and the composite keep flag."""
    return _c4_rules(spark, sf_dir).drop("source", "kept")


#: shared by the batch census and its streaming ingest-gate twin
#: (streaming/micro_batch.py::streaming_c4_gate) — one SQL truth, two
#: engine paths (the GOPHER_CENSUS_ORACLE pattern).
C4_CENSUS_ORACLE = (
    "\n    WITH "
    + _C4_CTES
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT)  AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
"""
    + ",\n".join(
        f"           CAST(SUM({n}) AS BIGINT) AS {n}"
        for n in C4_METRIC_NAMES
    )
    + ",\n"
    + ",\n".join(
        f"           CAST(SUM(1 - {n}) AS BIGINT) AS f_{n[3:]}"
        for n in C4_RULE_NAMES
    )
    + """
    FROM c4k GROUP BY source
    """
)


@query("c4_quality_census", oracle=C4_CENSUS_ORACLE)
def c4_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source C4 gate census: kept-page count, summed line
    tallies, and per-page-rule failure counts (independent tallies,
    not a partition). One scan (the shared rules memo), one
    map-side-combined groupBy."""
    return c4_census_agg(_c4_rules(spark, sf_dir))


#: shared by the batch transform and its streaming ingest twin
#: (streaming/micro_batch.py::streaming_c4_kept_docs) — one SQL
#: truth, two engine paths (the C4_CENSUS_ORACLE pattern).
C4_KEPT_DOCS_ORACLE = (
    "\n    WITH "
    + _C4_CTES
    + """
    SELECT doc_id, source,
           array_to_string(kept, ' ') AS text_c4,
           CAST(kept_lines AS BIGINT) AS kept_lines
    FROM c4k WHERE keep = 1
    """
)


@query("c4_kept_docs", oracle=C4_KEPT_DOCS_ORACLE)
def c4_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 transform: surviving pages rebuilt from their kept
    lines in original order (see the section note). Line-drop then
    page-drop — exactly the paper's order, since the retained-line
    floor is evaluated over the kept lines."""
    return c4_kept_docs_kernel(_c4_rules(spark, sf_dir))


# --------------------------------------------------------------------------
# E4/E6 (round 16): quality-gate AGREEMENT matrix — the ensemble-design
# artifact curation teams read before stacking filters: for each
# source, the 2×2 contingency between the Gopher composite gate and
# the repetition gate (how much does the second gate add beyond the
# first, and where do they conflict?). Both verdicts are the exact
# integer gates defined above — no float enters either decision — so
# the matrix is hash-exact. Scale shape: two per-doc projections
# (both shared_stage'd memos — the Gopher rules relation and the
# repetition metric relation — each paid once per session pass by
# their respective consumer sets), one co-keyed left join on doc_id,
# one map-side-combined groupBy(source).
@query(
    "quality_gate_agreement",
    oracle=_GQ_ORACLE_PREFIX
    + ",\n    "
    + _rep_metric_ctes("r")
    + f""",
    verdicts AS (
      SELECT k.source, k.keep AS g_keep,
             CASE WHEN COALESCE(rm.dup_occ, 0) * {REP_DUP_DEN}
                       > COALESCE(rm.n_grams, 0) * {REP_DUP_NUM}
                  THEN 0 ELSE 1 END AS r_keep
      FROM k LEFT JOIN rm ON rm.doc_id = k.doc_id
    )
    SELECT source,
           CAST(SUM(g_keep * r_keep) AS BIGINT)             AS n_both_keep,
           CAST(SUM(g_keep * (1 - r_keep)) AS BIGINT)       AS n_gopher_only,
           CAST(SUM((1 - g_keep) * r_keep) AS BIGINT)       AS n_rep_only,
           CAST(SUM((1 - g_keep) * (1 - r_keep)) AS BIGINT) AS n_both_drop
    FROM verdicts GROUP BY source
    """,
)
def quality_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 2×2 contingency between the Gopher composite gate
    and the repetition gate (see the section note): docs both gates
    keep, docs only one keeps (either direction), docs both drop —
    the integer counts an ensemble design reads."""
    gop = _gopher_rules(spark, sf_dir).select(
        "doc_id", "source", F.col("keep").alias("g_keep")
    )
    rep = _repetition_metrics(spark, sf_dir).select(
        "doc_id", "n_grams", "dup_occ"
    )
    v = gop.join(rep, "doc_id", "left").select(
        "source", "g_keep", _rep_keep_col().alias("r_keep")
    )
    return v.groupBy("source").agg(
        F.sum(F.col("g_keep") * F.col("r_keep"))
        .cast("long")
        .alias("n_both_keep"),
        F.sum(F.col("g_keep") * (1 - F.col("r_keep")))
        .cast("long")
        .alias("n_gopher_only"),
        F.sum((1 - F.col("g_keep")) * F.col("r_keep"))
        .cast("long")
        .alias("n_rep_only"),
        F.sum((1 - F.col("g_keep")) * (1 - F.col("r_keep")))
        .cast("long")
        .alias("n_both_drop"),
    )


# --------------------------------------------------------------------------
# E6+ (round 15): per-source DISTRIBUTION DRIFT — the ingest-monitoring
# gate a continuously-fed corpus runs between snapshots: for every
# source, KL(current ‖ previous) over unigram distributions, where
# "previous" is the source's train-bucket split and "current" its held
# buckets (the same md5 split every selection operator here uses — in
# production the two sides are consecutive snapshot partitions). A
# source whose crawler broke, changed encoding, or started emitting
# boilerplate shows up as a drift spike before it poisons training.

#
# Exactness: drift_micro = Σ_t c_t · (micro_ln(c_t/Tc) −
# micro_ln((p_t+1)/(Tp+V))) — every ln quantized to integer micro-nats
# (the repo discipline), c_t/Tc exact rationals, add-one smoothing on
# the PREVIOUS side only (current terms have c_t >= 1 by construction,
# so ln never sees 0; unseen-before tokens are exactly the drift
# signal and get the smoothed floor). V is the source's union
# vocabulary. Scale shape: two map-side-combined (source, token)
# censuses off one scan, an equi-join on (source, token), per-source
# totals via aggregate-bounded broadcasts — never a corpus broadcast.
@query(
    "source_drift_kl",
    oracle=f"""
    WITH docs AS (
      SELECT source, text, {_DUCK_SPLIT_BUCKET} AS bucket FROM documents
    ),
    tok AS (
      SELECT source, bucket < {_SPLIT_TRAIN_END} AS prev, t.tok
      FROM (SELECT source, bucket, string_split(text, ' ') AS toks
            FROM docs),
           UNNEST(toks) AS t(tok)
    ),
    census AS (
      SELECT source, tok,
             CAST(SUM(CASE WHEN prev THEN 1 ELSE 0 END) AS BIGINT) AS pc,
             CAST(SUM(CASE WHEN prev THEN 0 ELSE 1 END) AS BIGINT) AS cc
      FROM tok GROUP BY source, tok
    ),
    tot AS (
      SELECT source,
             CAST(SUM(pc) AS BIGINT) AS tp,
             CAST(SUM(cc) AS BIGINT) AS tc,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM census GROUP BY source
    )
    SELECT c.source,
           CAST(SUM(c.cc) AS BIGINT) AS n_cur_tokens,
           CAST(SUM(c.cc * (
             CAST(FLOOR(LN(CAST(c.cc AS DOUBLE) / CAST(t.tc AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(LN(CAST(c.pc + 1 AS DOUBLE)
                             / CAST(t.tp + t.v AS DOUBLE))
                          * 1000000 + 0.5) AS BIGINT)
           )) AS BIGINT) AS drift_micro,
           CAST(FLOOR(CAST(SUM(c.cc * (
             CAST(FLOOR(LN(CAST(c.cc AS DOUBLE) / CAST(t.tc AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(LN(CAST(c.pc + 1 AS DOUBLE)
                             / CAST(t.tp + t.v AS DOUBLE))
                          * 1000000 + 0.5) AS BIGINT)
           )) AS DOUBLE) / CAST(SUM(c.cc) AS DOUBLE) + 0.5) AS BIGINT)
             AS drift_per_token_micro
    FROM census c JOIN tot t ON t.source = c.source
    WHERE c.cc > 0
    GROUP BY c.source
    """,
)
def source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL drift, current (held split) vs previous
    (train split), in exact integer micro-nats (see the section note).
    ``drift_per_token_micro`` is the half-up-rounded per-token average
    — two exact integers divided once, identical cross-engine."""
    from bq_nvd_spark.plans.classify import _micro_ln
    from bq_nvd_spark.plans.sampling import _spark_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text", _spark_bucket().alias("bucket")
    )
    tok = docs.select(
        "source",
        (F.col("bucket") < _SPLIT_TRAIN_END).alias("prev"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    census = tok.groupBy("source", "tok").agg(
        F.sum(F.when(F.col("prev"), 1).otherwise(0))
        .cast("long")
        .alias("pc"),
        F.sum(F.when(F.col("prev"), 0).otherwise(1))
        .cast("long")
        .alias("cc"),
    )
    tot = census.groupBy("source").agg(
        F.sum("pc").cast("long").alias("tp"),
        F.sum("cc").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    term = F.col("cc") * (
        _micro_ln(F.col("cc").cast("double") / F.col("tc").cast("double"))
        - _micro_ln(
            (F.col("pc") + 1).cast("double")
            / (F.col("tp") + F.col("v")).cast("double")
        )
    )
    return (
        census.filter(F.col("cc") > 0)
        .join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.sum("cc").cast("long").alias("n_cur_tokens"),
            F.sum(term).cast("long").alias("drift_micro"),
            F.floor(
                F.sum(term).cast("double")
                / F.sum("cc").cast("double")
                + 0.5
            )
            .cast("long")
            .alias("drift_per_token_micro"),
        )
    )


#: the three-gate per-document verdict relation as a CTE suffix
#: (expects k / c4k / rm in scope) — ONE text for the funnel census
#: and the agreement cube, so the stacked-gate definition cannot
#: drift between them.
_THREE_GATE_VERDICTS_SQL = f""",
    verdicts AS (
      SELECT k.source,
             c4k.keep AS c4_keep,
             k.keep AS g_keep,
             CASE WHEN COALESCE(rm.dup_occ, 0) * {REP_DUP_DEN}
                       > COALESCE(rm.n_grams, 0) * {REP_DUP_NUM}
                  THEN 0 ELSE 1 END AS r_keep
      FROM k
      JOIN c4k ON c4k.doc_id = k.doc_id
      LEFT JOIN rm ON rm.doc_id = k.doc_id
    )"""


def _three_gate_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, c4_keep, g_keep, r_keep) per document — the Spark twin
    of _THREE_GATE_VERDICTS_SQL over the three shared memos; the one
    join spine the funnel census and the agreement cube aggregate."""
    c4 = _c4_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("c4_keep")
    )
    gop = _gopher_rules(spark, sf_dir).select(
        "doc_id", "source", F.col("keep").alias("g_keep")
    )
    rep = _repetition_metrics(spark, sf_dir).select(
        "doc_id", "n_grams", "dup_occ"
    )
    return (
        gop.join(c4, "doc_id")
        .join(rep, "doc_id", "left")
        .select(
            "source", "c4_keep", "g_keep", _rep_keep_col().alias("r_keep")
        )
    )


# --------------------------------------------------------------------------
# E4/E6 (round 17, beyond-brief): the curation FUNNEL census — the
# attrition dashboard a production pipeline reads across its STACKED
# gates, in the order real pipelines run them (C4's cheap heuristics
# first, then the Gopher composite, then the repetition gate): per
# source, how many documents survive each successive stage. Differs
# from the per-gate censuses above (independent tallies) and from the
# 2×2 agreement matrix (pairwise): these are SEQUENTIAL survivor
# counts, each column a subset of the previous — the funnel rows a
# yield forecast is built from.
#
# Scale shape: all three verdict relations are the existing
# shared_stage memos (_c4_rules, _gopher_rules, the repetition
# metrics), so the funnel's marginal cost is two co-keyed joins on
# doc_id plus one map-side-combined groupBy(source) — the agreement
# matrix's shape with one more join. Exactness: three integer
# verdicts, products of 0/1 columns, hash-exact.
@query(
    "curation_funnel_census",
    oracle=_GQ_ORACLE_PREFIX
    + ",\n    "
    + _C4_BODY_CTES
    + ",\n    "
    + _rep_metric_ctes("r")
    + _THREE_GATE_VERDICTS_SQL
    + f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c4_keep) AS BIGINT) AS n_after_c4,
           CAST(SUM(c4_keep * g_keep) AS BIGINT) AS n_after_gopher,
           CAST(SUM(c4_keep * g_keep * r_keep) AS BIGINT) AS n_survivors
    FROM verdicts GROUP BY source
    """,
)
def curation_funnel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequential attrition through the stacked quality
    gates, C4 → Gopher → repetition (see the section note):
    n_docs ≥ n_after_c4 ≥ n_after_gopher ≥ n_survivors by
    construction."""
    v = _three_gate_verdicts(spark, sf_dir)
    return v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c4_keep").cast("long").alias("n_after_c4"),
        F.sum(F.col("c4_keep") * F.col("g_keep"))
        .cast("long")
        .alias("n_after_gopher"),
        F.sum(F.col("c4_keep") * F.col("g_keep") * F.col("r_keep"))
        .cast("long")
        .alias("n_survivors"),
    )


# --------------------------------------------------------------------------
# E4+ (round 17, beyond-brief): ZIPF rank-frequency census — the
# companion corpus law to vocab_growth_curve's Heaps curve: token
# frequency vs frequency-rank, bucketed by power-of-two rank (the
# standard log-log view collapsed to ~log2(V) exact integer rows). A
# corpus whose head buckets carry an anomalous occurrence share (or
# whose tail types vanish) signals template text or a broken
# tokenizer before any model sees it.
#
# Exactness: the bucket is floor(log2(rank)) computed INTEGER-
# EXACTLY as length(bin(rank)) - 1 in both engines — no float log
# near power-of-two boundaries. Scale shape: one tokenize explode
# into a map-side-combined token census, a groupBy to the
# frequency-CLASS relation (≤ √(2N) rows), one un-partitioned cumsum
# over THAT (aggregate-bounded — never the vocabulary; see the
# docstring's rank-free argument), and a ~log2(V)-slice-per-class
# re-aggregation.
@query(
    "zipf_rank_census",
    oracle="""
    WITH tok AS (
      SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT string_split(text, ' ') AS toks FROM documents),
           UNNEST(toks) AS t(tok)
      GROUP BY t.tok
    ),
    ranked AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
      FROM tok
    )
    SELECT CAST(length(bin(rnk)) - 1 AS BIGINT) AS rank_bucket,
           CAST(MIN(rnk) AS BIGINT) AS rank_lo,
           CAST(MAX(rnk) AS BIGINT) AS rank_hi,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n) AS BIGINT) AS n_occ,
           CAST(MAX(n) AS BIGINT) AS max_freq,
           CAST(MIN(n) AS BIGINT) AS min_freq
    FROM ranked GROUP BY 1
    """,
)
def zipf_rank_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two rank-bucketed token frequency census (see the
    section note): per bucket, the rank span, type count, occurrence
    mass, and frequency envelope — the Zipf curve as exact integers.

    RANK-FREE plan (the scale invariant forbids an un-partitioned
    window over the vocabulary): all types of one frequency occupy a
    CONTIGUOUS rank interval, and no per-bucket output depends on
    order within that interval — so the census needs only the
    FREQUENCY-CLASS relation (freq → type count), whose cardinality
    is ≤ √(2·total_tokens) (d distinct frequencies are each ≥ their
    index when sorted, so Σ ≥ d(d+1)/2). The one un-partitioned
    cumsum runs over THAT aggregate-bounded relation (the
    vocab_growth_curve exception class); each class's interval is
    then sliced at power-of-two boundaries by pure arithmetic — at
    most log2(V)+1 slices per class — and re-aggregated. The oracle
    keeps the direct rank formulation (single-node DuckDB has no
    partition constraint); equality of the two formulations IS the
    contiguity argument, pinned by the Counter-reference pytest."""
    from pyspark.sql.window import Window

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cls = tok.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("types")
    )
    w = Window.orderBy(F.desc("n")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    iv = cls.select(
        "n",
        "types",
        (F.sum("types").over(w) - F.col("types") + 1).alias("lo"),
        F.sum("types").over(w).alias("hi"),
    )
    sliced = iv.select(
        "n",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                (F.length(F.bin("lo")) - 1).cast("long"),
                (F.length(F.bin("hi")) - 1).cast("long"),
            )
        ).alias("rank_bucket"),
    ).select(
        "n",
        "rank_bucket",
        F.greatest(
            "lo", F.expr("shiftleft(1L, cast(rank_bucket AS int))")
        ).alias("seg_lo"),
        F.least(
            "hi",
            F.expr("shiftleft(1L, cast(rank_bucket AS int) + 1) - 1"),
        ).alias("seg_hi"),
    )
    return sliced.groupBy("rank_bucket").agg(
        F.min("seg_lo").cast("long").alias("rank_lo"),
        F.max("seg_hi").cast("long").alias("rank_hi"),
        F.sum(F.col("seg_hi") - F.col("seg_lo") + 1)
        .cast("long")
        .alias("n_types"),
        F.sum((F.col("seg_hi") - F.col("seg_lo") + 1) * F.col("n"))
        .cast("long")
        .alias("n_occ"),
        F.max("n").cast("long").alias("max_freq"),
        F.min("n").cast("long").alias("min_freq"),
    )


# --------------------------------------------------------------------------
# E4/E6 (round 17, beyond-brief): the three-gate agreement CUBE — the
# funnel above reports sequential survivors and the 2×2 matrix
# reports one pairwise comparison; this is the complete ensemble-
# design artifact: per source, the count of documents in EVERY
# (c4, gopher, repetition) verdict combination (≤8 rows per source).
# Reading it answers the questions the other two can't: which gate
# is redundant given the other two, and which documents only ONE
# gate catches. Same shared memos, same join spine as the funnel —
# the groupBy just keeps the verdict columns as keys.
@query(
    "gate_agreement_cube",
    oracle=_GQ_ORACLE_PREFIX
    + ",\n    "
    + _C4_BODY_CTES
    + ",\n    "
    + _rep_metric_ctes("r")
    + _THREE_GATE_VERDICTS_SQL
    + f"""
    SELECT source,
           CAST(c4_keep AS BIGINT) AS c4_keep,
           CAST(g_keep AS BIGINT) AS g_keep,
           CAST(r_keep AS BIGINT) AS r_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM verdicts GROUP BY source, c4_keep, g_keep, r_keep
    """,
)
def gate_agreement_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document counts for every (c4, gopher, repetition)
    verdict combination (see the section note) — the full 2³
    contingency the pairwise matrix and the sequential funnel
    marginalize."""
    v = _three_gate_verdicts(spark, sf_dir)
    return v.groupBy("source", "c4_keep", "g_keep", "r_keep").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )

"""Source-level audit of every F.broadcast hint in the package.

A broadcast hint is a promise that the build side fits in executor
memory AT ANY DATA SCALE — Spark honors the hint even past
``autoBroadcastJoinThreshold``, so a hint on a side that grows with the
corpus (a full dimension table, a per-document relation) becomes an OOM
at 100 TB, not a graceful shuffle-join fallback. Sides that AQE can
size at runtime need no hint at all; the hint's only legitimate uses
are sides whose bound is STRUCTURAL:

- ``constant``          — fixed-cardinality relations (TPC-H nation/
                          region, K-row codebooks/centroid arrays, the
                          ≤5-row query set of the ANN benchmarks);
- ``aggregate-bounded`` — one-row (or low-card-domain-keyed) aggregates:
                          scalar totals, per-event-type medians (~5
                          keys), per-source counts, date-domain spines,
                          (band, byte)≤4×256 bucket censuses;
- ``limit-bounded``     — relations behind an explicit .limit(K) /
                          top-K window.

Anything else is ``data-proportional`` and must NOT be hinted (round 10
removed 29 such hints: full customer/supplier/part dims and their
linear subsets — AQE still broadcasts them at small SF, from observed
size). This script enumerates every ``F.broadcast(...)`` call via AST
and checks it against the classification table below; it FAILS if a
site is unclassified (new hints must be classified here before they
ship) or classified data-proportional. Output is the markdown table
SCALING.md embeds.

Usage: python scripts/broadcast_audit.py [--md]
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PKG = "bq_nvd_spark"

C = "constant"
A = "aggregate-bounded"
L = "limit-bounded"

# (relpath, enclosing function, broadcast-arg source text) -> (class, why)
# The arg text is matched against ast.unparse of the call's first
# argument, so renaming a variable or changing what is broadcast
# un-classifies the site and the audit fails until it is re-reviewed.
CLASSIFIED: dict[tuple[str, str, str], tuple[str, str]] = {
    ("operators/similarity.py", "score_query_set", "q"):
        (C, "query set: vec_id < 5 by construction"),
    ("plans/clustering.py", "kmeans_lloyd_clusters", "cents"):
        (C, "K-means centroid relation: K×DIM rows, K fixed"),
    ("plans/curation.py", "vocab_growth_curve", "mx"):
        (A, "one-row max(doc_id) aggregate"),
    ("plans/curation.py", "oov_rate_by_vocab", "vocab"):
        (L, "top-VOCAB_K vocabulary via orderBy().limit()"),
    ("plans/curation.py", "source_drift_kl", "tot"):
        (A, "per-source totals: source is a low-card domain"),
    ("plans/curation.py", "cross_source_contamination_matrix", "pa"):
        (A, "per-source doc counts; source is a low-card domain"),
    ("plans/curation.py", "cross_source_contamination_matrix", "pb"):
        (A, "per-source doc counts; source is a low-card domain"),
    ("plans/events.py", "monthly_urgent_gapfill", "n"):
        (C, "nation: 25 rows at any SF"),
    ("plans/events.py", "gap_fill_daily_counts", "days"):
        (A, "day spine: bounded by the calendar span, not row count"),
    ("plans/events.py", "value_mad_outliers", "med"):
        (A, "per-event-type medians: ~5 keys"),
    ("plans/events.py", "value_mad_outliers", "mad"):
        (A, "per-event-type MADs: ~5 keys"),
    ("plans/layout.py", "zorder_cell_census", "stats"):
        (A, "one-row min/max aggregate"),
    ("plans/llm.py", "tfidf_top_terms", "n_docs"):
        (A, "one-row corpus count"),
    ("plans/llm.py", "_bm25_contrib", "df_rel"):
        (C, "per-query-term doc frequencies: ≤|union query term set| "
            "rows; the term sets are literal constants"),
    ("plans/llm.py", "_bm25_contrib", "stats"):
        (A, "one-row corpus count/total-length aggregate"),
    ("plans/llm.py", "_bm25_mq_scored", "qrel"):
        (C, "literal (query_id, term) relation: |BM25_QUERY_SET| rows"),
    ("plans/llm.py", "simhash_near_dup_pairs", "sized"):
        (A, "(band_idx, byte) bucket ids: domain ≤ 4×256 rows"),
    ("plans/llm.py", "source_mixture_weights", "tot"):
        (A, "one-row total"),
    ("plans/llm.py", "unigram_surprisal_scores", "tot"):
        (A, "one-row token total"),
    ("plans/llm.py", "build_corpus", "top.select('pair')"):
        (L, "round winner: .limit(1)"),
    ("plans/llm.py", "collocation_pmi_top", "tot"):
        (A, "one-row pair total"),
    ("plans/pq.py", "pq_adc_recall_topk", "seeds"):
        (C, "PQ codebook: PQ_M×K centroids, fixed"),
    ("plans/pq.py", "pq_adc_recall_topk", "luts"):
        (C, "per-query LUTs: ≤5 queries × PQ_M×K entries"),
    ("plans/pq.py", "pq_adc_recall_topk", "corpus_n_rows"):
        (A, "one-row corpus count"),
    ("plans/relational.py", "q5_revenue_by_nation", "nation"):
        (C, "nation: 25 rows at any SF"),
    ("plans/relational.py", "orders_per_region", "nation"):
        (C, "nation: 25 rows at any SF"),
    ("plans/relational.py", "orders_per_region", "region"):
        (C, "region: 5 rows at any SF"),
    ("plans/relational.py", "q10_returned_item_revenue", "n"):
        (C, "nation: 25 rows at any SF"),
    ("plans/relational.py", "q22_idle_rich_customers", "threshold"):
        (A, "one-row average"),
    ("plans/relational.py", "q7_volume_shipping", "nc"):
        (C, "nation (customer role): 25 rows"),
    ("plans/relational.py", "q7_volume_shipping", "ns"):
        (C, "nation (supplier role): 25 rows"),
    ("plans/relational.py", "q8_market_share", "nc"):
        (C, "nation (customer role): 25 rows"),
    ("plans/relational.py", "q8_market_share", "ns"):
        (C, "nation (supplier role): 25 rows"),
    ("plans/relational.py", "q8_market_share", "r"):
        (C, "region: 5 rows"),
    ("plans/relational.py", "q21_waiting_suppliers",
     "load_table(spark, sf_dir, 'nation').filter(F.col('n_name') == 'NATION_4')"):
        (C, "nation filtered to one name: ≤1 row"),
    ("plans/relational.py", "q2_min_cost_supplier", "n"):
        (C, "nation: 25 rows"),
    ("plans/relational.py", "q2_min_cost_supplier", "r"):
        (C, "region: 5 rows"),
    ("plans/relational.py", "q9_product_profit", "n"):
        (C, "nation: 25 rows"),
    ("plans/relational.py", "q11_important_parts", "n"):
        (C, "nation: 25 rows"),
    ("plans/relational.py", "q11_important_parts", "r"):
        (C, "region: 5 rows"),
    ("plans/relational.py", "q11_important_parts", "total"):
        (A, "one-row cutoff aggregate"),
    ("plans/relational.py", "q15_top_supplier", "top"):
        (A, "one-row max aggregate"),
    ("plans/relational.py", "q20_excess_volume_suppliers", "n"):
        (C, "nation: 25 rows"),
    ("plans/relational.py", "q20_excess_volume_suppliers", "r"):
        (C, "region: 5 rows"),
    ("plans/similarity_search.py", "ann_lsh_topk", "q"):
        (C, "query set: vec_id < 5 by construction"),
    ("plans/similarity_search.py", "_ivf_assign_and_probes", "cent_arr"):
        (C, "IVF centroid array: one row of K=16 structs (shared "
            "quantizer for ivf_topk + mmr_ann_diverse_topk)"),
    ("plans/similarity_search.py", "proto_rank_kernel", "cents"):
        (C, "IVF centroid relation: IVF_CELLS=16 rows at any SF "
            "(the D4 cosine-to-own-centroid join)"),
    ("plans/similarity_search.py", "ivf_nprobe_sweep", "cents"):
        (C, "IVF centroid relation: IVF_CELLS=16 rows at any SF "
            "(probe-rank re-derivation)"),
    ("plans/similarity_search.py", "ivf_nprobe_sweep", "sweep"):
        (C, "sweep spine: IVF_NPROBE=4 rows, a constant"),
    ("plans/similarity_search.py", "ivf_topk", "probes"):
        (C, "≤5 queries × IVF_NPROBE probe cells"),
    ("plans/similarity_search.py", "ivf_refined_topk", "anchors"):
        (C, "per-cell anchor arrays: ≤16 cells × N_ANCHORS structs"),
    ("plans/similarity_search.py", "ivf_refined_topk", "rcent_arr"):
        (C, "refined centroid array: one row of K structs"),
    ("plans/similarity_search.py", "ivf_refined_topk", "probes"):
        (C, "≤5 queries × IVF_NPROBE probe cells"),
    ("plans/similarity_search.py", "mmr_ann_diverse_topk", "probes"):
        (C, "≤5 queries × IVF_NPROBE probe cells"),
    ("plans/sampling.py", "mixture_resample_docs", "quota"):
        (A, "per-source quotas; source is a low-card domain"),
    ("plans/sampling.py", "_build_dsir_scores", "model"):
        (A, "hashed-n-gram model: groupBy(fb), fb = md5 mod "
            "DSIR_BUCKETS → ≤4,096 rows regardless of corpus size"),
    ("plans/sampling.py", "_build_dsir_scores", "tot"):
        (A, "one-row feature-occurrence totals"),
    ("plans/sketches.py", "kll_rank_accuracy", "q.select('event_type', 'kll_p90')"):
        (A, "per-event-type p90s: ~5 keys"),
    ("plans/sketches.py", "heavy_hitter_tokens", "tot"):
        (A, "one-row total"),
    ("plans/sketches.py", "heavy_hitter_tokens", "sketch"):
        (A, "freqItems sketch: one row"),
    ("plans/sketches.py", "cms_user_freq_accuracy", "cells"):
        (A, "CMS grid: CMS_D×CMS_W = 2,048 cells regardless of input"),
    ("plans/sketches.py", "cms_user_freq_accuracy", "n_tot"):
        (A, "one-row stream total"),
    ("plans/classify.py", "_build_nb_scores", "vocab"):
        (L, "top-NB_VOCAB_K vocabulary via orderBy().limit()"),
    ("plans/classify.py", "_build_nb_scores", "tot"):
        (A, "per-class in-vocab token totals; classes are a low-card "
            "domain"),
    ("plans/classify.py", "_build_nb_scores", "vsize"):
        (A, "one-row capped-vocab count"),
    ("plans/classify.py", "_build_nb_scores", "ntr"):
        (A, "one-row train doc count"),
    ("plans/classify.py", "_build_nb_scores",
     "ll.withColumnRenamed('lang', 'pred_lang')"):
        (L, "likelihood grid: ≤NB_VOCAB_K×classes rows by the vocab cap"),
    ("plans/classify.py", "_build_nb_scores", "prior"):
        (A, "per-class priors; classes are a low-card domain"),
    ("plans/classify.py", "nb_kfold_accuracy",
     "cnt_t.select('lang').distinct()"):
        (A, "distinct classes: low-card domain"),
    ("plans/classify.py", "nb_kfold_accuracy", "folds"):
        (C, "fold spine: NB_FOLDS=5 rows"),
    ("plans/classify.py", "nb_kfold_accuracy", "tot_f"):
        (A, "folds×classes token totals"),
    ("plans/classify.py", "nb_kfold_accuracy", "vs_f"):
        (A, "per-fold vocab sizes: NB_FOLDS rows"),
    ("plans/classify.py", "nb_kfold_accuracy", "ntr"):
        (A, "per-fold train totals: NB_FOLDS rows"),
    ("plans/classify.py", "nb_kfold_accuracy",
     "ll.withColumnRenamed('lang', 'pred_lang')"):
        (L, "CV likelihood grid: ≤NB_VOCAB_K×classes×folds rows by the "
            "vocab cap"),
    ("plans/classify.py", "nb_kfold_accuracy",
     "prior.withColumnRenamed('lang', 'pred_lang')"):
        (A, "folds×classes priors"),
    ("plans/classify.py", "_build_lm_scores", "v"):
        (A, "one-row vocabulary-size count (the LM count relations "
            "themselves are data-proportional and are shuffle-joined, "
            "never hinted)"),
}


def sites() -> list[tuple[str, int, str, str]]:
    """(relpath, lineno, enclosing function, arg source) per F.broadcast."""
    out = []
    pkg_dir = os.path.join(ROOT, PKG)
    for root, _, files in os.walk(pkg_dir):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            tree = ast.parse(open(p).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    best = None
                    for lo, hi, name in funcs:
                        if lo <= node.lineno <= hi and (
                            best is None or (hi - lo) < best[0]
                        ):
                            best = (hi - lo, name)
                    out.append(
                        (
                            os.path.relpath(p, pkg_dir),
                            node.lineno,
                            best[1] if best else "<module>",
                            ast.unparse(node.args[0]) if node.args else "?",
                        )
                    )
    return sorted(out)


def main() -> int:
    found = sites()
    rows = []
    problems = []
    for rel, ln, fn, arg in found:
        key = (rel, fn, arg)
        if key not in CLASSIFIED:
            problems.append(f"UNCLASSIFIED hint {rel}:{ln} in {fn}: F.broadcast({arg})")
            rows.append((rel, ln, fn, arg, "UNCLASSIFIED", ""))
            continue
        cls, why = CLASSIFIED[key]
        if cls not in (C, A, L):
            problems.append(f"DATA-PROPORTIONAL hint {rel}:{ln} in {fn}")
        rows.append((rel, ln, fn, arg, cls, why))
    live_keys = {(r, f, a) for r, _, f, a in found}
    for k in CLASSIFIED:
        if k not in live_keys:
            problems.append(f"STALE classification (site gone): {k}")

    print("| site | query/fn | build side | class | bound |")
    print("|---|---|---|---|---|")
    for rel, ln, fn, arg, cls, why in rows:
        print(f"| `{rel}:{ln}` | `{fn}` | `{arg}` | {cls} | {why} |")
    counts = {
        label: sum(1 for r in rows if r[4] == label)
        for label in (C, A, L)
    }
    other = len(rows) - sum(counts.values())
    print(
        f"\n{len(rows)} hints: {counts[C]} constant, "
        f"{counts[A]} aggregate-bounded, {counts[L]} limit-bounded, "
        f"{other} data-proportional/unclassified"
    )
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

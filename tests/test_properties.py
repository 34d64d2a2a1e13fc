"""Property-based checks (hypothesis) for the temporal-join operators.

The oracle-parity suite pins these on the fixed events table; here
generated inputs sweep the edge cases fixed data can miss — empty
sides, equal timestamps across sides, bucket-boundary hits, keys
present on only one side — against brute-force Python references.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bq_nvd_spark.operators.temporal import asof_join, banded_range_join

# (user, ts) pairs; small key/time domains force collisions and boundary
# alignments. Timestamps are plain longs — the operators only need an
# orderable, castable-to-double time column.
_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=120),
    ),
    max_size=12,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_LEFT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", LongType()),
        StructField("event_id", LongType()),
    ]
)
_RIGHT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", LongType()),
        StructField("payload", DoubleType()),
    ]
)


@given(left=_EVENTS, right=_EVENTS)
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right):
    # one right row per (key, ts): the operator's documented precondition
    right = sorted({(u, t) for (u, t) in right})
    left_rows = [(u, t, i) for i, (u, t) in enumerate(left)]
    right_rows = [(u, t, float(u * 1000 + t)) for (u, t) in right]

    ldf = spark.createDataFrame(left_rows, _LEFT_SCHEMA)
    rdf = spark.createDataFrame(right_rows, _RIGHT_SCHEMA)
    got = {
        (r.event_id, r.last_payload)
        for r in asof_join(
            ldf, rdf, on=["user_id"], ts="ts", payload=["payload"]
        ).collect()
    }

    expected = set()
    for u, t, i in left_rows:
        prior = [(rt, p) for (ru, rt, p) in right_rows if ru == u and rt <= t]
        expected.add((i, max(prior)[1] if prior else None))
    assert got == expected


@given(
    probe=_EVENTS,
    build=_EVENTS,
    lower=st.integers(min_value=-30, max_value=30),
    width=st.integers(min_value=1, max_value=60),
)
@_SETTINGS
def test_banded_range_join_matches_bruteforce(spark, probe, build, lower, width):
    upper = lower + width
    probe_rows = [(u, t, i) for i, (u, t) in enumerate(probe)]
    build_rows = [(u, t, float(j)) for j, (u, t) in enumerate(build)]

    pdf = spark.createDataFrame(probe_rows, _LEFT_SCHEMA)
    bdf = spark.createDataFrame(
        [(u, t, p) for (u, t, p) in build_rows],
        StructType(
            [
                StructField("user_id", LongType()),
                StructField("b_ts", LongType()),
                StructField("payload", DoubleType()),
            ]
        ),
    )
    got = sorted(
        (r.event_id, r.payload)
        for r in banded_range_join(
            pdf,
            bdf,
            on=["user_id"],
            probe_ts="ts",
            build_ts="b_ts",
            lower_s=float(lower),
            upper_s=float(upper),
        ).collect()
    )
    expected = sorted(
        (i, p)
        for (u, t, i) in probe_rows
        for (bu, bt, p) in build_rows
        if bu == u and t + lower < bt <= t + upper
    )
    assert got == expected


_KV = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # skewed key
        st.integers(min_value=0, max_value=50),  # value / user
    ),
    max_size=16,
)


@given(rows=_KV, dim=st.lists(st.integers(min_value=0, max_value=2), max_size=4))
@_SETTINGS
def test_salted_join_matches_naive(spark, rows, dim):
    from bq_nvd_spark.operators.skew import salted_join

    dim_rows = [(k, float(k * 10)) for k in sorted(set(dim))]
    fact_rows = [(k, v, i) for i, (k, v) in enumerate(rows)]
    fact = spark.createDataFrame(
        fact_rows,
        StructType(
            [
                StructField("k", LongType()),
                StructField("v", LongType()),
                StructField("row_id", LongType()),
            ]
        ),
    )
    dimdf = spark.createDataFrame(
        dim_rows,
        StructType([StructField("k", LongType()), StructField("w", DoubleType())]),
    )
    got = sorted(
        (r.row_id, r.w)
        for r in salted_join(
            fact, dimdf, ["k"], id_col="row_id", n_salts=4
        ).collect()
    )
    expected = sorted(
        (i, w) for (k, v, i) in fact_rows for (dk, w) in dim_rows if dk == k
    )
    assert got == expected


@given(rows=_KV)
@_SETTINGS
def test_salted_agg_distinct_matches_naive(spark, rows):
    from pyspark.sql import functions as F

    from bq_nvd_spark.operators.skew import salted_agg

    fact = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        StructType(
            [
                StructField("k", LongType()),
                StructField("u", LongType()),
                StructField("row_id", LongType()),
            ]
        ),
    )
    got = {
        (r.k, r.n)
        for r in salted_agg(
            fact,
            ["k"],
            partial_aggs=[F.collect_set("u").alias("us")],
            final_aggs=[
                F.size(F.array_distinct(F.flatten(F.collect_list("us"))))
                .cast("long")
                .alias("n")
            ],
            id_col="row_id",
            n_salts=4,
        ).collect()
    }
    expected = {
        (k, len({u for (kk, u) in rows if kk == k}))
        for k in {k for (k, _) in rows}
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_connected_components_match_union_find(spark, edges):
    from bq_nvd_spark.operators.graph import connected_components

    # reference: textbook union-find over the same edge list
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.cluster_id
        for r in connected_components(df, max_iter=20).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Adversarial shapes for the CC/dedup family: the failure modes a 100 TB
# corpus actually produces — a chain whose diameter exceeds the round
# budget, a boilerplate mega-bucket sitting exactly at the pair cap, and
# degenerate empty inputs.


def test_cc_long_chain_exceeding_max_iter_raises(spark):
    """A path graph of diameter > max_iter must raise the documented
    RuntimeError (graph.py:86-94) rather than silently splitting the
    component — min-label propagation moves the label one hop per round."""
    import pytest

    from bq_nvd_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    df = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=3).collect()
    # and with enough rounds the same chain collapses to one cluster
    ok = connected_components(df, max_iter=15)
    assert {r.cluster_id for r in ok.collect()} == {0}
    assert ok.count() == 13


def test_cc_empty_edges(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from bq_nvd_spark.operators.graph import connected_components

    empty = spark.createDataFrame(
        [], StructType([StructField("src", LongType()), StructField("dst", LongType())])
    )
    assert connected_components(empty, max_iter=2).count() == 0


def test_capped_pairs_bucket_at_cap_boundary(spark):
    """One LSH bucket with exactly PAIR_BUCKET_CAP members emits all
    C(cap, 2) pairs; one member more and the bucket is dropped entirely
    (0 pairs) — never a partial or O(n²) emission. An empty band set
    yields an empty pair set."""
    from bq_nvd_spark.plans.llm import PAIR_BUCKET_CAP, _capped_pairs

    def bands_of(n_docs):
        return spark.createDataFrame(
            [(0, "sig", i) for i in range(n_docs)],
            "band_idx int, band_sig string, doc_id long",
        )

    cap = PAIR_BUCKET_CAP
    at_cap = _capped_pairs(bands_of(cap)).collect()
    assert len(at_cap) == cap * (cap - 1) // 2
    # pairs are ordered (doc_a < doc_b) and distinct
    assert all(r.doc_a < r.doc_b for r in at_cap)
    assert len({(r.doc_a, r.doc_b) for r in at_cap}) == len(at_cap)

    assert _capped_pairs(bands_of(cap + 1)).count() == 0
    assert _capped_pairs(bands_of(1)).count() == 0
    assert _capped_pairs(bands_of(0)).count() == 0


def test_capped_pairs_mixed_buckets(spark):
    """A capped mega-bucket must not suppress pairs from healthy buckets
    sharing the band index, and duplicate candidate pairs across buckets
    collapse to one row (the .distinct contract the verifier relies on)."""
    from bq_nvd_spark.plans.llm import PAIR_BUCKET_CAP, _capped_pairs

    rows = [(0, "mega", i) for i in range(PAIR_BUCKET_CAP + 5)]
    rows += [(0, "ok", 100), (0, "ok", 101)]
    rows += [(1, "other", 100), (1, "other", 101), (1, "other", 102)]
    bands = spark.createDataFrame(rows, "band_idx int, band_sig string, doc_id long")
    got = {(r.doc_a, r.doc_b) for r in _capped_pairs(bands).collect()}
    # (100, 101) appears in two buckets -> one row; mega bucket contributes none
    assert got == {(100, 101), (100, 102), (101, 102)}


# --------------------------------------------------------------------------
# Span dedup: the Spark explode/hash-agg/join pipeline must agree with a
# direct Python computation of duplicated fixed-length token spans.

_DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
    min_size=0,
    max_size=8,
)


@given(docs=_DOCS)
@_SETTINGS
def test_duplicate_spans_match_python_reference(spark, docs):
    from collections import Counter

    from bq_nvd_spark.plans.spans import SPAN_N, _span_keys

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # Python reference: per-doc multiplicity of spans seen in >= 2 docs
    per_doc: dict[int, Counter] = {}
    for i, toks in enumerate(docs):
        grams = [
            " ".join(toks[j : j + SPAN_N]) for j in range(len(toks) - SPAN_N + 1)
        ]
        per_doc[i] = Counter(grams)
    docs_per_gram: dict[str, set] = {}
    for i, c in per_doc.items():
        for g in c:
            docs_per_gram.setdefault(g, set()).add(i)
    dup = {g for g, ds in docs_per_gram.items() if len(ds) >= 2}
    expect = {
        i: sum(n for g, n in c.items() if g in dup)
        for i, c in per_doc.items()
        if any(g in dup for g in c)
    }

    df = spark.createDataFrame(
        rows,
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    grams = _span_keys(df)
    dup_keys = (
        grams.groupBy("span_key")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span_key")
    )
    got = {
        r["doc_id"]: r["n"]
        for r in grams.join(dup_keys, "span_key")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


# --------------------------------------------------------------------------
# Upsert store: arbitrary sequences of upsert/tombstone batches (with
# replays, of the latest and of the oldest batch, and NULL keys) must
# leave the store equal to a dict reference model — the replace-by-key
# MERGE contract under any batch shaping.

_BATCHES = st.lists(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),  # key
            st.integers(min_value=0, max_value=99),  # value
            st.booleans(),  # tombstone?
        ),
        min_size=1,
        max_size=4,
        # one row per key within a batch (update output mode emits each
        # changed key once)
        unique_by=lambda r: r[0],
    ),
    min_size=1,
    max_size=4,
)

_UPSERT_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(batches=_BATCHES, replay=st.booleans())
@_UPSERT_SETTINGS
def test_upsert_store_matches_dict_model(spark, tmp_path_factory, batches, replay):
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    root = tmp_path_factory.mktemp("upsert_prop")
    store = ParquetUpsertStore(str(root), n_buckets=3)
    model: dict = {}
    schema = "user_id long, cents long, is_deleted boolean"
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        store.merge_batch(df, batch_id=bid, key="user_id", delete_col="is_deleted")
        if replay:  # at-least-once delivery: replay must be a no-op
            store.merge_batch(
                df, batch_id=bid, key="user_id", delete_col="is_deleted"
            )
        for k, v, dead in rows:
            if dead:
                model.pop(k, None)
            else:
                model[k] = v
    if replay:  # an OLDER batch id redelivered after later ones: no-op too
        df0 = spark.createDataFrame(batches[0], schema)
        store.merge_batch(df0, batch_id=0, key="user_id", delete_col="is_deleted")
    final = store.current(spark)
    got = {} if final is None else {r["user_id"]: r["cents"] for r in final.collect()}
    assert got == model


# --------------------------------------------------------------------------
# exact_rank_values: for ANY weighted integer multiset (ties, negatives,
# extreme magnitudes, singleton groups) and ANY rank fraction, the
# selected value equals sorted(expanded multiset)[rank-1]. Property
# form of tests/test_rank_select.py's fixed cases.
_RANK_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_RANK_ROWS, pct=st.integers(min_value=1, max_value=100))
@_SETTINGS
def test_rank_select_matches_expanded_multiset(spark, rows, pct):
    from bq_nvd_spark.operators.rank_select import exact_rank_values

    rank_of = lambda n: max(1, pct * n // 100)  # noqa: E731
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = exact_rank_values(
        df,
        "v",
        lambda n: {"r": rank_of(n)},
        group_col="g",
        weight_col="w",
        n_buckets=16,  # force multi-round refinement on wide spans
    )
    per_group = {}
    for g, v, w in rows:
        per_group.setdefault(g, []).extend([v] * w)
    for g, vs in per_group.items():
        assert got[g]["r"] == sorted(vs)[rank_of(len(vs)) - 1], (g, pct)


def test_mixture_resample_exact_shares(spark, tmp_path):
    """Mixture resampling must hit the target proportions exactly (up
    to quota floor), bind on the scarcest source, and pick a
    deterministic membership. Skewed synthetic corpus: source sizes
    are deliberately FAR from the target weights."""
    from bq_nvd_spark.plans import QUERIES

    sizes = {"src0": 400, "src1": 30, "src2": 300, "src3": 200}
    rows, did = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((did, f"text {did}", "en", src, 7))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    out = QUERIES["mixture_resample_docs"](spark, str(tmp_path))
    got = {r["source"]: r["cnt"] for r in
           out.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    # weights 1+suffix%4: src0->1, src1->2, src2->3, src3->4; sum_w=10.
    # capacity T = min(n_s*10/w_s) = min(4000, 150, 1000, 500) = 150
    # (src1, 30 docs at 20% target, binds). quotas = floor(w_s*150/10).
    assert got == {"src0": 15, "src1": 30, "src2": 45, "src3": 60}

    # determinism: same rows on a second run
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in QUERIES["mixture_resample_docs"](
            spark, str(tmp_path)
        ).collect()
    )
    assert a == b

    # lenient weights: a source name with NO parsable suffix ('web')
    # gets weight 1 on BOTH engines instead of diverging; shares shift
    # accordingly but engine and oracle stay in lockstep (mirrored in
    # the oracle's TRY_CAST+COALESCE). Fresh directory: the first
    # phase's lazy frames still reference the old files.
    rows2 = rows + [(did + i, f"t {i}", "en", "web", 3) for i in range(50)]
    dir2 = tmp_path / "mix2"
    spark.createDataFrame(
        rows2,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(dir2 / "documents.parquet")
    )
    out2 = QUERIES["mixture_resample_docs"](spark, str(dir2))
    got2 = {
        r["source"]: r["cnt"]
        for r in out2.groupBy("source")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    # weights now src0:1 src1:2 src2:3 src3:4 web:1, sum_w=11;
    # T = min(400*11/1, 30*11/2, 300*11/3, 200*11/4, 50*11/1) = 165
    # quotas = floor(w_s*165/11) = w_s*15
    assert got2 == {"src0": 15, "src1": 30, "src2": 45, "src3": 60, "web": 15}


# --------------------------------------------------------------------------
# Round 14: the repetition gate's two kernels (explode+groupBy batch,
# row-local HOF stream) both rest on the count-partition identity
#   occurrences in grams with count >= 2
#     == total grams - |grams occurring exactly once|
# and on the exact-rational gate. Sweep generated token lists through
# the STREAMING kernel (the subtler one: HOF algebra + one aggregate)
# against a brute-force Python reference; the batch==stream pytest in
# test_corpus_curation ties the other kernel to this one.
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repetition_gate_kernel_matches_bruteforce(spark, docs):
    from collections import Counter

    from bq_nvd_spark.plans.curation import (
        REP_DUP_DEN,
        REP_DUP_NUM,
        repetition_gate_census,
    )

    rows = [
        (i, " ".join(toks), f"src{i % 2}") for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    got = {
        r.source: (r.n_kept, r.n_dropped)
        for r in repetition_gate_census(df).collect()
    }
    want: dict[str, list[int]] = {}
    for i, toks in enumerate(docs):
        # NOTE: split(' ') on an empty string yields [''] — one token,
        # no bigrams; the reference must mirror the engine's tokenizer
        toks = " ".join(toks).split(" ")
        grams = [
            f"{toks[j]} {toks[j + 1]}" for j in range(len(toks) - 1)
        ]
        c = Counter(grams)
        n_grams = len(grams)
        dup_occ = sum(v for v in c.values() if v >= 2)
        assert dup_occ == n_grams - sum(
            1 for v in c.values() if v == 1
        )  # the identity itself
        dropped = dup_occ * REP_DUP_DEN > n_grams * REP_DUP_NUM
        want.setdefault(f"src{i % 2}", [0, 0])[1 if dropped else 0] += 1
    assert got == {s: (k, d) for s, (k, d) in want.items()}


# --------------------------------------------------------------------------
# Line-granularity duplicate metrics: the array_sort + adjacent-equality
# kernel must agree with a direct Counter computation of duplicate
# occurrences (c-1 per distinct line) and their character mass, for
# arbitrary newline documents — including empty lines, all-duplicate
# docs, and single-line docs (the sequence/element_at edge cases).

_LINE_DOCS = st.lists(
    st.lists(
        st.sampled_from(["x", "yy", "zzz", "", "x"]), min_size=1, max_size=10
    ),
    min_size=1,
    max_size=6,
)


@given(docs=_LINE_DOCS)
@_SETTINGS
def test_line_dup_metrics_match_python_reference(spark, docs):
    from collections import Counter

    from bq_nvd_spark.plans.curation import (
        line_metrics_kernel,
        newline_segment_cols,
    )

    rows = [(i, "\n".join(lines), "s") for i, lines in enumerate(docs)]
    df = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("source", StringType()),
            ]
        ),
    )
    got = {
        r.doc_id: r
        for r in line_metrics_kernel(df, newline_segment_cols).collect()
    }
    for i, lines in enumerate(docs):
        # '\n'.join then re-split never preserves an empty TRAILING
        # structure difference: splitting the joined text yields the
        # original list exactly (join/split are inverse for any list
        # of newline-free strings), so the reference runs on `lines`.
        c = Counter(lines)
        dup_occ = sum(n - 1 for n in c.values())
        dup_chars = sum((n - 1) * len(line) for line, n in c.items())
        tot_chars = sum(len(line) for line in lines)
        r = got[i]
        assert r.n_lines == len(lines), (i, lines)
        assert r.dup_lines == dup_occ, (i, lines)
        assert r.dup_line_chars == dup_chars, (i, lines)
        assert r.line_chars == tot_chars, (i, lines)


# --------------------------------------------------------------------------
# C4 kernel: line and page verdicts must agree with a direct Python
# computation for arbitrary newline documents under the paper's
# punctuation terminal set — including empty lines, placeholder
# phrases, braces, and documents whose every line is dropped.

_C4_LINES = st.lists(
    st.sampled_from(
        [
            "alpha beta gamma.",       # kept: 3 words, terminal '.'
            "alpha beta gamma",        # dropped: no terminal
            "hi.",                     # dropped: short
            "",                        # dropped: short (one empty token)
            "why not ask?",            # kept: terminal '?'
            "lorem ipsum dolor sit.",  # kept line, but flags the PAGE
            "code { leak } here.",     # kept line, but flags the PAGE
        ]
    ),
    min_size=1,
    max_size=12,
)


@given(docs=st.lists(_C4_LINES, min_size=1, max_size=5))
@_SETTINGS
def test_c4_kernel_matches_python_reference(spark, docs):
    from bq_nvd_spark.plans.curation import (
        C4_MIN_KEPT_LINES,
        C4_MIN_LINE_WORDS,
        C4_PUNCT_TERMINALS,
        c4_rules_kernel,
        newline_segment_cols,
    )

    rows = [(i, "\n".join(lines), "s") for i, lines in enumerate(docs)]
    df = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("source", StringType()),
            ]
        ),
    )
    got = {
        r.doc_id: r
        for r in c4_rules_kernel(
            df, newline_segment_cols, C4_PUNCT_TERMINALS
        ).collect()
    }
    for i, lines in enumerate(docs):
        text = "\n".join(lines)
        kept = [
            l
            for l in lines
            if l.endswith(tuple(C4_PUNCT_TERMINALS))
            and len(l.split(" ")) >= C4_MIN_LINE_WORDS
        ]
        bad_term = sum(
            1 for l in lines if not l.endswith(tuple(C4_PUNCT_TERMINALS))
        )
        bad_short = sum(
            1 for l in lines if len(l.split(" ")) < C4_MIN_LINE_WORDS
        )
        ok_block = "lorem ipsum" not in text.lower()
        ok_brace = "{" not in text
        ok_floor = len(kept) >= C4_MIN_KEPT_LINES
        r = got[i]
        assert r.n_lines == len(lines), (i, lines)
        assert r.kept_lines == len(kept), (i, lines)
        assert r.bad_terminal == bad_term, (i, lines)
        assert r.bad_short == bad_short, (i, lines)
        assert r.ok_blocklist == int(ok_block), (i, lines)
        assert r.ok_brace == int(ok_brace), (i, lines)
        assert r.ok_min_lines == int(ok_floor), (i, lines)
        assert r.keep == int(ok_block and ok_brace and ok_floor)
        assert list(r.kept) == kept, (i, lines)

"""Round-11 operators: span-granularity exact-substring dedup
(exact_substring_spans) and post-dedup mixture rebalancing
(mixture_rebalance)."""

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------- exact_substring_spans


def test_exact_spans_hand_corpus(spark):
    """Two docs sharing a 6-token substring: each reports ONE maximal
    run of 4 duplicated 3-grams = a 6-token span, at the right start
    offset; the unrelated doc reports nothing."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta unique1 tail1"),
        (2, "pre2 alpha beta gamma delta epsilon zeta post2 q r"),
        (3, "nothing shared here at all in this one document"),
    ])
    out = sorted(
        tuple(r) for r in exact_substring_spans(df, n=3, min_run=2).collect()
    )
    assert out == [(1, 0, 4, 6), (2, 1, 4, 6)]


def test_exact_spans_multiple_runs_per_doc(spark):
    """Two disjoint duplicated regions in one doc emit two span ROWS
    (duplicated_spans would fold them into one stats row)."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [
        (1, "a b c d X Y Z p q r s W"),
        (2, "a b c d m1 m2 m3 p q r s m4"),
    ])
    out = sorted(
        tuple(r) for r in exact_substring_spans(df, n=3, min_run=2).collect()
    )
    # "a b c d" = grams at pos 0,1 (run 2 -> 4 tokens); "p q r s" =
    # grams at pos 7,8 in doc1 / pos 7,8 in doc2
    assert out == [(1, 0, 2, 4), (1, 7, 2, 4), (2, 0, 2, 4), (2, 7, 2, 4)]


def test_exact_spans_min_count_raises_bar(spark):
    """min_count=3: a substring shared by only TWO docs stops
    qualifying; one shared by three still reports."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [
        (1, "t u v w only2a x1 x2"),
        (2, "t u v w only2b y1 y2"),
        (3, "k l m n o p3a z1"),
        (4, "k l m n o p3b z2"),
        (5, "k l m n o p3c z3"),
    ])
    out = sorted(
        tuple(r)
        for r in exact_substring_spans(
            df, n=3, min_run=2, min_count=3
        ).collect()
    )
    # only the "k l m n o" family (3 docs, grams pos 0-2) survives
    assert out == [(3, 0, 3, 5), (4, 0, 3, 5), (5, 0, 3, 5)]


def test_exact_spans_degenerate_docs(spark):
    """NULL / empty / sub-n-token docs emit nothing and crash nothing."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [
        (1, None), (2, ""), (3, "  "), (4, "one two"),
        (5, "one two"),  # 2 tokens < n=3: no grams even though duplicated
    ])
    assert exact_substring_spans(df, n=3, min_run=2).count() == 0


def test_exact_spans_validates(spark):
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="n must be"):
        exact_substring_spans(df, n=0)
    with pytest.raises(ValueError, match="min_run must be"):
        exact_substring_spans(df, min_run=0)
    with pytest.raises(ValueError, match="min_count must be"):
        exact_substring_spans(df, min_count=1)


def test_exact_spans_two_keyed_exchanges(spark):
    """Same shuffle contract as duplicated_spans: ONE gram-keyed window
    exchange + ONE doc-keyed exchange shared by the run window and the
    (doc, run) roll-up — no joins."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    df = _docs(spark, [(1, "a b c d"), (2, "a b c d")])
    plan = (
        exact_substring_spans(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


# ----------------------------------------------------- mixture_rebalance


def _fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "a b c d", "s1"),
            (3, "x y", "s2"),
            (4, "z w q", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster_id long"
    )
    return docs, labels


def test_mixture_rebalance_survivor_math(spark):
    """Cluster {1,2} keeps min-id 1; unpaired docs survive untouched;
    rates re-plan against KEPT tokens (s1: 0.5*10/4 = 1.25 > 1, the
    repetition a post-dedup plan needs)."""
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs, labels = _fixture(spark)
    out = {r.source: r for r in mixture_rebalance(
        docs, labels, {"s1": 0.5, "s2": 0.5}, 10
    ).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1.n_docs, s1.kept_docs, s1.n_tokens, s1.kept_tokens) == (
        2, 1, 8, 4)
    assert (s1.sample_rate, s1.expected_tokens) == (1.25, 5)
    assert (s2.n_docs, s2.kept_docs, s2.kept_tokens) == (2, 2, 5)
    assert (s2.sample_rate, s2.expected_tokens) == (1.0, 5)


def test_mixture_rebalance_cap_and_missing_weight(spark):
    """The repeat cap clamps runaway rates; a source absent from the
    weight dict gets weight 0 / rate 0."""
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs, labels = _fixture(spark)
    out = {r.source: r for r in mixture_rebalance(
        docs, labels, {"s1": 1.0}, 1000, max_repeat=2.0
    ).collect()}
    assert out["s1"].sample_rate == 2.0          # uncapped would be 250
    assert out["s1"].expected_tokens == 8        # 2.0 * 4 kept tokens
    assert out["s2"].weight == 0.0
    assert out["s2"].sample_rate == 0.0


def test_mixture_rebalance_all_dupes_source(spark):
    """A source whose every doc deduped away reports kept 0 and a NULL
    rate (0-token division), never a crash or an Inf."""
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "a b", "s1"), (3, "c", "s2")],
        "doc_id long, text string, source string",
    )
    # labels electing a NON-member id: neither doc 1 nor 2 survives
    labels = spark.createDataFrame(
        [(1, 0), (2, 0)], "id long, cluster_id long"
    )
    out = {r.source: r for r in mixture_rebalance(
        docs, labels, {"s1": 0.5, "s2": 0.5}, 10
    ).collect()}
    assert (out["s1"].kept_docs, out["s1"].kept_tokens) == (0, 0)
    assert out["s1"].sample_rate is None
    assert out["s1"].expected_tokens is None


def test_mixture_rebalance_validates(spark):
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs, labels = _fixture(spark)
    with pytest.raises(ValueError, match="max_repeat must be"):
        mixture_rebalance(docs, labels, {"s1": 1.0}, 10, max_repeat=0)


def test_mixture_rebalance_one_join_one_agg(spark):
    """Plan contract: one equi-join against the label frame and one
    source-keyed aggregate — the corpus is never shuffled twice."""
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs, labels = _fixture(spark)
    plan = (
        mixture_rebalance(docs, labels, {"s1": 0.5}, 10)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Join LeftOuter") == 1
    assert plan.count("Aggregate") == 1


# ------------------------------------------------------------- cut_spans


def test_cut_spans_hand_corpus(spark):
    """The spans exact_substring_spans reports are exactly what
    cut_spans removes: shared 6-token region cut from both docs,
    unique material kept, counts right."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    df = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta unique1 tail1"),
        (2, "pre2 alpha beta gamma delta epsilon zeta post2 q r"),
        (3, "nothing shared here at all in this one document"),
    ])
    spans = exact_substring_spans(df, n=3, min_run=2)
    out = {r.doc_id: (r.text, r.n_removed)
           for r in cut_spans(df, spans).collect()}
    assert out[1] == ("unique1 tail1", 6)
    assert out[2] == ("pre2 post2 q r", 6)
    assert out[3] == ("nothing shared here at all in this one document", 0)


def test_cut_spans_degenerate_docs(spark):
    """NULL text -> NULL out; empty/whitespace -> '' with 0 removed;
    overlapping spans never double-count removals; everything-cut
    yields '' not NULL."""
    from obsplus_spark.operators.dedup import cut_spans

    df = _docs(spark, [(1, None), (2, ""), (3, "  "), (4, "a b c d")])
    spans = spark.createDataFrame(
        # overlapping spans over doc 4 covering positions 0-2 and 1-3
        [(4, 0, 3), (4, 1, 3)],
        "doc_id long, span_start long, span_tokens long",
    )
    out = {r.doc_id: (r.text, r.n_removed)
           for r in cut_spans(df, spans).collect()}
    assert out[1] == (None, None)
    assert out[2] == ("", 0)
    assert out[3] == ("", 0)
    assert out[4] == ("", 4)  # union of overlaps = all 4 tokens, once


def test_cut_spans_caller_policy_keep_one(spark):
    """The keep-one-copy policy composes: anti-join the min-id
    occurrence out of the span frame and only the other docs get cut."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )
    from pyspark.sql import functions as F

    df = _docs(spark, [
        (1, "s1 s2 s3 s4 s5 one"),
        (2, "s1 s2 s3 s4 s5 two"),
        (3, "s1 s2 s3 s4 s5 three"),
    ])
    spans = exact_substring_spans(df, n=3, min_run=2)
    keep_first = spans.groupBy("span_start", "span_grams").agg(
        F.min("doc_id").alias("doc_id")
    )
    to_cut = spans.join(keep_first, ["span_start", "span_grams", "doc_id"],
                        "left_anti")
    out = {r.doc_id: r.text for r in cut_spans(df, to_cut).collect()}
    assert out[1] == "s1 s2 s3 s4 s5 one"   # the kept copy
    assert out[2] == "two"
    assert out[3] == "three"


# --------------------------------------------------------- apply_mixture


def test_apply_mixture_rates(spark):
    """rate 1.0 -> exactly one copy each; rate 2.5 -> 2 or 3 copies per
    doc with contiguous epochs and ~expectation across many ids;
    rate 0 / NULL / missing source -> dropped."""
    from obsplus_spark.operators.dedup import apply_mixture

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 5)) for i in range(500)],
        "doc_id long, source string",
    )
    plan = spark.createDataFrame(
        [("s0", 1.0), ("s1", 2.5), ("s2", 0.0), ("s3", None)],
        "source string, sample_rate double",
    )
    rows = apply_mixture(docs, plan).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    srcs = {r.doc_id: r.source for r in rows}
    assert all(s in ("s0", "s1") for s in srcs.values())
    n1 = [d for d in by_doc if d % 5 == 0]
    assert all(by_doc[d] == [1] for d in n1)
    n25 = [d for d in by_doc if d % 5 == 1]
    assert all(sorted(by_doc[d]) in ([1, 2], [1, 2, 3]) for d in n25)
    # the fractional epoch hits ~50% of rate-2.5 docs (hash-uniform)
    frac3 = sum(len(by_doc[d]) == 3 for d in n25) / len(n25)
    assert 0.3 < frac3 < 0.7
    # determinism: a rerun is bit-identical
    again = {(r.doc_id, r.epoch) for r in apply_mixture(docs, plan).collect()}
    assert again == {(r.doc_id, r.epoch) for r in rows}


def test_apply_mixture_null_source_matches_null_plan_row(spark):
    from obsplus_spark.operators.dedup import apply_mixture

    docs = spark.createDataFrame(
        [(1, None), (2, "s0")], "doc_id long, source string"
    )
    plan = spark.createDataFrame(
        [(None, 2.0)], "source string, sample_rate double"
    )
    out = apply_mixture(docs, plan).collect()
    assert sorted((r.doc_id, r.epoch) for r in out) == [(1, 1), (1, 2)]


def test_apply_mixture_no_corpus_shuffle(spark):
    """Plan contract: the corpus side never exchanges — one broadcast
    join + in-row explode (100 TB property: sampling is a scan)."""
    from obsplus_spark.operators.dedup import apply_mixture

    docs = spark.createDataFrame(
        [(1, "s0")], "doc_id long, source string"
    )
    plan = spark.createDataFrame(
        [("s0", 1.5)], "source string, sample_rate double"
    )
    p = (apply_mixture(docs, plan)
         ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert p.count("Exchange hashpartitioning") == 0


def test_phash_narrow_sparse_knob_parity(spark):
    """The two bucket pairers agree: ``_bucket_pairs_sparse`` (hot-key
    count + broadcast semi filter, used by phash_near_dup_wide) returns
    the identical pair set as the single-pass ``_bucket_pairs`` that
    phash_near_dup uses, on the same 16-bit-banded frame — pairs shared
    across several bands, three-member buckets and singletons."""
    from obsplus_spark.operators.dedup import (
        _bucket_pairs,
        _bucket_pairs_sparse,
    )

    # (id, h_lo, h_hi); bands = lo&0xFFFF, lo>>16, hi&0xFFFF, hi>>16.
    # Multi-member buckets: band 0 = 5 {1, 2, 5}, band 1 = 9 {1, 2},
    # band 2 = 9 {1, 2, 3}, band 2 = 2048 {4, 6}; the rest are singletons
    hashes = [
        (1, 5 | 9 << 16, 9 | 1 << 16),
        (2, 5 | 9 << 16, 9 | 2 << 16),
        (3, 7 | 8 << 16, 9 | 3 << 16),
        (4, 1024 | 7 << 16, 2048 | 4 << 16),
        (5, 5 | 3 << 16, 11 | 5 << 16),
        (6, 40 << 16, 2048 | 6 << 16),
    ]
    rows = [
        (i, band, (w >> shift) & 65535)
        for i, lo, hi in hashes
        for band, (w, shift) in enumerate(
            [(lo, 0), (lo, 16), (hi, 0), (hi, 16)]
        )
    ]
    banded = spark.createDataFrame(rows, "id long, band int, band_hash long")
    a = {tuple(r) for r in _bucket_pairs(banded, "id").collect()}
    b = {tuple(r) for r in _bucket_pairs_sparse(banded, "id").collect()}
    assert a == b == {(1, 2), (1, 3), (1, 5), (2, 3), (2, 5), (4, 6)}


def test_cut_spans_one_join_small_exchange(spark):
    """Plan contract: ONE left join against the folded span frame and
    one doc-keyed exchange over SPAN rows (never token rows); the keep
    filter is in-row."""
    from obsplus_spark.operators.dedup import cut_spans

    docs = _docs(spark, [(1, "a b c d")])
    spans = spark.createDataFrame(
        [(1, 0, 2)], "doc_id long, span_start long, span_tokens long"
    )
    plan = (cut_spans(docs, spans)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("Join LeftOuter") == 1
    exec_plan = (cut_spans(docs, spans)
                 ._jdf.queryExecution().executedPlan().toString())
    # one exchange for the span fold + the join's requirement; no
    # window, no extra corpus aggregate
    assert "Window" not in exec_plan


# ------------------------------------------- script_mix / standardize /
# ------------------------------------------------------- dedup_pair_eval


def test_script_mix_hand_values(spark):
    """Latin+digit, Cyrillic-mixed, pure Han, NULL and whitespace-only
    inputs — fractions over non-whitespace chars, NULL text dropped."""
    from obsplus_spark.operators.text import script_mix

    df = _docs(spark, [
        (1, "hello world 123"),
        (2, "привет мир hello"),
        (3, "你好 世界"),
        (4, None),
        (5, "   "),
    ])
    out = {r.doc_id: r for r in script_mix(df).collect()}
    assert 4 not in out
    assert out[1].n_chars_nows == 13
    assert out[1].frac_latin == 0.769231 and out[1].frac_digit == 0.230769
    assert out[2].frac_cyrillic == 0.642857
    assert out[3].frac_han == 1.0
    assert out[5].frac_latin is None  # zero chars -> NULL fractions


def test_script_mix_map_only(spark):
    from obsplus_spark.operators.text import script_mix

    df = _docs(spark, [(1, "x")])
    p = script_mix(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_standardize_embeddings_hand(spark):
    """mean 2, stddev_pop 1 -> z = -1/+1; constant dim -> 0.0; NULL
    and empty embeddings dropped by the valid_vectors contract."""
    from obsplus_spark.operators.similarity import standardize_embeddings

    rows = [(1, [1.0, 5.0]), (2, [3.0, 5.0]), (3, None), (4, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.embedding for r in
           standardize_embeddings(df).collect()}
    assert out == {1: [-1.0, 0.0], 2: [1.0, 0.0]}


def test_standardize_one_dim_exchange_broadcast_back(spark):
    """The only hash exchange is the dim-keyed stats aggregate; the
    stats frame broadcasts back (the corpus never re-shuffles)."""
    from obsplus_spark.operators.similarity import standardize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    p = (standardize_embeddings(df)
         ._jdf.queryExecution().executedPlan().toString())
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_dedup_pair_eval_hand_math(spark):
    """truth C(3,2)+C(2,2)=4; pred C(2,2)+C(3,2)=4; tp=2 -> P=R=0.5.
    Normalization folds case/whitespace; NULL text excluded;
    unclustered docs are singletons."""
    from obsplus_spark.operators.dedup import dedup_pair_eval

    docs = _docs(spark, [
        (1, "same text"), (2, "same  TEXT"), (3, "same text"),
        (4, "other"), (5, "other"), (6, "unique"), (7, None),
    ])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 4), (5, 4), (6, 4)],
        "id long, cluster_id long",
    )
    r = dedup_pair_eval(docs, labels).collect()[0]
    assert tuple(r) == (4, 4, 2, 0.5, 0.5)


def test_dedup_pair_eval_empty_truth(spark):
    """All-unique corpus: zero truth pairs -> NULL recall (never a
    divide-by-zero), precision still defined over predicted pairs."""
    from obsplus_spark.operators.dedup import dedup_pair_eval

    docs = _docs(spark, [(1, "a"), (2, "b"), (3, "c")])
    labels = spark.createDataFrame([(1, 1), (2, 1)],
                                   "id long, cluster_id long")
    r = dedup_pair_eval(docs, labels).collect()[0]
    assert (r.truth_pairs, r.pred_pairs, r.tp_pairs) == (0, 1, 0)
    assert r.pair_recall is None and r.pair_precision == 0.0


# ----------------------------------------------------------- gram_novelty


def test_gram_novelty_hand_values(spark):
    """1/3 novel grams for the doc sharing a prefix with the
    reference; fully-novel doc at 1.0; gram-less docs emit no row."""
    from obsplus_spark.operators.dedup import gram_novelty

    docs = _docs(spark, [(1, "a b c d e"), (2, "x y z w"), (3, "a b")])
    ref = spark.createDataFrame([("a b c d q",)], "text string")
    out = sorted(tuple(r) for r in gram_novelty(docs, ref).collect())
    assert out == [(1, 3, 1, 0.333333), (2, 2, 2, 1.0)]


def test_gram_novelty_distinct_grams_not_occurrences(spark):
    """A doc repeating one novel gram many times scores by DISTINCT
    grams — repetition cannot inflate novelty mass."""
    from obsplus_spark.operators.dedup import gram_novelty

    docs = _docs(spark, [(1, "q q q q q q q q")])  # one distinct gram
    ref = spark.createDataFrame([("a b c",)], "text string")
    out = [tuple(r) for r in gram_novelty(docs, ref).collect()]
    assert out == [(1, 1, 1, 1.0)]


def test_gram_novelty_empty_reference(spark):
    """An empty reference makes everything novel (LEFT join, never an
    inner-join collapse)."""
    from obsplus_spark.operators.dedup import gram_novelty

    docs = _docs(spark, [(1, "a b c d")])
    ref = spark.createDataFrame([], "text string")
    out = [tuple(r) for r in gram_novelty(docs, ref).collect()]
    assert out == [(1, 2, 2, 1.0)]

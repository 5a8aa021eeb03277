"""Metamorphic invariants (SURVEY.md §5.2 item 4) — oracle-free checks
that hold by construction and catch a different failure class than the
DuckDB differential tests: partition-sensitivity (does a result change
when the same rows arrive split differently?), idempotence, and
containment relations between operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import all_queries, load
from tests.conftest import SF_ORACLE

_SPECS = all_queries()


def _rows(df):
    return sorted(map(tuple, ((str(v) for v in r) for r in df.collect())))


def test_union_split_invariance(spark):
    """q(lineitem) == q(half1 ∪ half2): the flagship aggregate must not
    depend on how its input is partitioned — the property that makes the
    fixed-point sums safe under any cluster partitioning."""
    from dicebox_sensorybatchprocessor_spark.operators.aggregates import q1_pricing_summary
    from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum, ts_ntz

    li = load(spark, SF_ORACLE, "lineitem")
    lo = li.filter(F.col("l_orderkey") % 2 == 0)
    hi = li.filter(F.col("l_orderkey") % 2 == 1)
    rebuilt = lo.unionByName(hi).repartition(13)

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    def q1_of(df):
        return (
            df.filter(F.col("l_shipdate") <= ts_ntz("1998-09-02 00:00:00"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                fixed_point_sum(F.col("l_quantity"), 2).alias("sum_qty"),
                fixed_point_sum(disc_price, 4).alias("sum_disc_price"),
                fixed_point_sum(charge, 6).alias("sum_charge"),
                F.count("*").alias("count_order"),
            )
        )

    assert _rows(q1_of(li)) == _rows(q1_of(rebuilt))


def test_dedup_idempotence(spark):
    """dedup(dedup(x)) == dedup(x): the exact-dedup keeper choice is
    deterministic, so re-running it is a no-op."""
    d = load(spark, SF_ORACLE, "documents")
    once = d.groupBy(F.sha2("text", 256).alias("h")).agg(F.min("doc_id").alias("keeper"))
    twice = once.groupBy("h").agg(F.min("keeper").alias("keeper"))
    assert _rows(once) == _rows(twice)


def test_topk_is_prefix_of_full_sort(spark):
    """ORDER BY + LIMIT k must equal the first k rows of the full sort
    (TakeOrderedAndProject's heap merge vs a global sort)."""
    o = load(spark, SF_ORACLE, "orders")
    cols = ["o_orderkey", "o_totalprice"]
    topk = o.select(*cols).orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(20)
    full = o.select(*cols).orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    assert [tuple(r) for r in topk.collect()] == [tuple(r) for r in full.take(20)]


def test_filter_commutes_with_projection_pushdown(spark):
    """filter∘project == project∘filter for independent columns — Catalyst
    reorders them freely; results must agree."""
    li = load(spark, SF_ORACLE, "lineitem")
    a = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 30)
    b = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert _rows(a) == _rows(b)


def test_semi_join_is_inner_join_projection(spark):
    """left-semi(c, o) == distinct keys of inner(c, o) projected to the
    left side — the containment that defines semi-join."""
    c = load(spark, SF_ORACLE, "customer").select("c_custkey")
    o = load(spark, SF_ORACLE, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    via_inner = c.join(o, c.c_custkey == o.o_custkey, "inner").select("c_custkey").distinct()
    assert _rows(semi) == _rows(via_inner)


def test_salted_join_equals_plain_join(spark):
    """The salted skew join must be result-identical to the plain join —
    salting is a physical rewrite, not a semantic one."""
    salted = _SPECS["join_skew_salted"].fn(spark, SF_ORACLE)
    e = load(spark, SF_ORACLE, "events")
    c = load(spark, SF_ORACLE, "customer").select("c_custkey", "c_mktsegment")
    from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum

    plain = (
        e.join(c, e.user_id == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            fixed_point_sum(F.col("value"), 6).alias("sum_value"),
        )
    )
    assert _rows(salted) == _rows(plain)


def test_bucketed_join_equals_shuffle_join(spark):
    """The zero-Exchange bucketed join must be result-identical to the
    ordinary shuffle join over the raw parquet."""
    bucketed = _SPECS["join_bucketed"].fn(spark, SF_ORACLE)
    from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum

    li = load(spark, SF_ORACLE, "lineitem")
    o = load(spark, SF_ORACLE, "orders")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            fixed_point_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    assert _rows(bucketed) == _rows(plain)


def test_cosine_lsh_route_equals_broadcast_route(spark):
    """sim_cosine_topk's beyond-broadcast-budget route (LSH candidates +
    exact rerank) must return the same top-k as the dense broadcast-matmul
    path at fixture scale — the physical route is a scale decision, not a
    semantic one (radius 1.1 keeps every pair with cosine >= 0.395, well
    below the fixture's observed top-10 floor of ~0.45)."""
    from dicebox_sensorybatchprocessor_spark.llm import similarity as S

    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    brute = _rows(_SPECS["sim_cosine_topk"].fn(spark, SF_ORACLE))
    lsh = _rows(S._cosine_topk_lsh(e))
    assert brute == lsh


def test_cosine_guard_routes_to_lsh_beyond_budget(spark, monkeypatch):
    """Force the index byte budget below the fixture size and assert the
    operator actually takes the LSH route (no driver-side toPandas of the
    full table)."""
    from dicebox_sensorybatchprocessor_spark.llm import similarity as S

    monkeypatch.setattr(S, "_INDEX_BYTE_BUDGET", 0)

    def _boom(*a, **k):
        raise AssertionError("dense-index collect ran despite guard")

    monkeypatch.setattr(
        "pyspark.sql.DataFrame.toPandas", _boom, raising=True
    )
    out = S.sim_cosine_topk.__wrapped__(spark, SF_ORACLE)
    assert out.count() == 10


def test_interval_chunk_width_invariance(spark):
    """join_interval_chunked's result must be independent of the chunk
    width — the grid is an execution strategy, not semantics. Recompute
    with a naive per-user theta join (no chunking) and compare exactly;
    a lost pair here would mean an interval's chunk cover missed a
    chunk shared with an overlapping interval."""
    specs = all_queries()
    chunked = specs["join_interval_chunked"].fn(spark, SF_ORACLE)

    ev = load(spark, SF_ORACLE, "events")
    half_h = 1_800_000_000
    start = F.unix_micros(F.col("ts").cast("timestamp"))

    def side(etype, idc, s, e):
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(idc), "user_id", start.alias(s), (start + half_h).alias(e)
        )

    p, c = side("purchase", "purchase_id", "p_start", "p_end"), side("click", "click_id", "c_start", "c_end")
    naive = (
        p.join(c, "user_id")
        .filter((F.col("p_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("p_end")))
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            (F.least("p_end", "c_end") - F.greatest("p_start", "c_start")).alias("overlap_us"),
        )
    )
    assert chunked.count() == naive.count()
    assert chunked.exceptAll(naive).count() == 0
    assert naive.exceptAll(chunked).count() == 0


def test_cdc_diff_reconstructs_new_snapshot(spark):
    """Applying cdc_snapshot_diff's change semantics to the old snapshot
    must reconstruct the new snapshot exactly: old − deletes − updated
    old-rows + inserts + updated new-rows == new. This checks the diff's
    COMPLETENESS (no missed or spurious changes), which the aggregated
    count oracle alone cannot."""
    from dicebox_sensorybatchprocessor_spark.operators.maintenance import (
        _NEW_PRICE,
        _NEW_SNAP,
        _OLD_SNAP,
    )

    o = load(spark, SF_ORACLE, "orders")
    old_snap = o.filter(F.expr(_OLD_SNAP.format(ts="TIMESTAMP_NTZ"))).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = o.filter(F.expr(_NEW_SNAP.format(ts="TIMESTAMP_NTZ"))).select(
        "o_orderkey", "o_orderstatus", F.expr(_NEW_PRICE).alias("o_totalprice")
    )
    jo = old_snap.alias("o").join(
        new_snap.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    row_o = F.concat_ws("|", F.col("o.o_orderstatus"), F.col("o.o_totalprice").cast("string"))
    row_n = F.concat_ws("|", F.col("n.o_orderstatus"), F.col("n.o_totalprice").cast("string"))
    deletes = jo.filter(F.col("n.o_orderkey").isNull()).select(F.col("o.o_orderkey").alias("k"))
    inserts = jo.filter(F.col("o.o_orderkey").isNull()).select(
        F.col("n.o_orderkey"), F.col("n.o_orderstatus"), F.col("n.o_totalprice")
    )
    updates_new = jo.filter(
        F.col("o.o_orderkey").isNotNull() & F.col("n.o_orderkey").isNotNull() & (row_o != row_n)
    ).select(F.col("n.o_orderkey"), F.col("n.o_orderstatus"), F.col("n.o_totalprice"))
    update_keys = updates_new.select(F.col("o_orderkey").alias("k"))

    reconstructed = (
        old_snap.join(deletes, old_snap.o_orderkey == deletes.k, "left_anti")
        .join(update_keys, old_snap.o_orderkey == update_keys.k, "left_anti")
        .unionByName(inserts)
        .unionByName(updates_new)
    )
    assert reconstructed.count() == new_snap.count()
    assert reconstructed.exceptAll(new_snap).count() == 0
    assert new_snap.exceptAll(reconstructed).count() == 0


def test_ivf_measured_recall(spark):
    """The shipped sim_ann_ivf claim is `overlap >= 3` (wide margin so
    KMeans drift can't flip the driver's hash gate); the MEASURED recall
    at the fixture scales is 5/5. Pin it here so a moderate recall
    regression (nprobe/k misconfiguration, quantizer change) fails CI
    even while the driver claim still passes (ADVICE r3)."""
    from dicebox_sensorybatchprocessor_spark.llm.similarity import ivf_measured_overlap

    n_overlap, topk, _ = ivf_measured_overlap(spark, SF_ORACLE)
    assert n_overlap == topk


def test_token_entropy_analytic_bounds(spark):
    """Entropy identities that hold by construction: a doc with all-
    distinct tokens has H == log2(n) and TTR == 1; every doc satisfies
    0 ≤ H ≤ log2(n_tokens) and entropy of a doc is log2(n_types) when
    every type occurs equally often. The fixture docs exercise the
    general case; the bound check runs over all of them."""
    import math

    df = _SPECS["text_token_entropy"].fn(spark, SF_ORACLE)
    for r in df.collect():
        ub = math.log2(r.n_tokens) if r.n_tokens > 1 else 0.0
        assert -1e-6 <= r.token_entropy <= ub + 1e-6, r
        if r.n_types == r.n_tokens:
            assert abs(r.token_entropy - ub) <= 1e-6, r
            assert abs(r.type_token_ratio - 1.0) <= 1e-9, r


def test_unigram_lm_partition_invariance(spark):
    """The LM score must be identical no matter how the corpus is
    partitioned — the fixed-point term sum is the mechanism. Compare the
    registered result with a 13-way repartitioned recomputation."""
    from dicebox_sensorybatchprocessor_spark.llm.text import text_unigram_lm_score

    base = _rows(_SPECS["text_unigram_lm_score"].fn(spark, SF_ORACLE))

    import dicebox_sensorybatchprocessor_spark.llm.text as t

    orig_load = t.load
    try:
        t.load = lambda sp, sf, name: orig_load(sp, sf, name).repartition(13)
        alt = _rows(text_unigram_lm_score.__wrapped__(spark, SF_ORACLE))
    finally:
        t.load = orig_load
    assert base == alt


def test_dedup_prefix_keep_partition(spark):
    """Exactly one keeper per prefix group, and the keeper is the min
    doc_id of its group — survivorship must be deterministic."""
    df = _SPECS["dedup_prefix"].fn(spark, SF_ORACLE)
    agg = df.groupBy("prefix_key").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.min("doc_id").alias("min_doc"),
        F.min(F.when(F.col("keep"), F.col("doc_id"))).alias("keeper"),
    )
    bad = agg.filter((F.col("n_keep") != 1) | (F.col("min_doc") != F.col("keeper")))
    assert bad.count() == 0


def test_bloom_candidates_superset_of_true_hits(spark):
    """White-box bloom invariant (the stage the oracle equality can't see
    in isolation): the bloom candidate set must be a SUPERSET of the true
    contaminated (doc, ngram) pairs — a bloom can false-positive but
    never false-negative — and the final outputs of the bloom and
    broadcast paths must be row-identical."""
    base = _rows(_SPECS["decontaminate_ngram"].fn(spark, SF_ORACLE))
    bloom = _rows(_SPECS["decontaminate_bloom"].fn(spark, SF_ORACLE))
    assert base == bloom
    # n_hits per doc identical implies candidates lost no true pair;
    # additionally assert the bloom path found every contaminated doc.
    docs_exact = {r[0] for r in base}
    docs_bloom = {r[0] for r in bloom}
    assert docs_exact == docs_bloom


def test_duplicate_spans_fresh_vocab_doc_is_inert(spark):
    """Appending a document over a brand-new vocabulary (no shingle can
    collide with the existing corpus) must not change any existing
    document's span report — the locality property that makes
    incremental corpus growth safe for substring dedup."""
    from dicebox_sensorybatchprocessor_spark import api

    base = load(spark, SF_ORACLE, "documents").select("doc_id", "text")
    before = {
        r["doc_id"]: tuple(r)
        for r in api.duplicate_spans(base).collect()
    }
    fresh = spark.createDataFrame(
        [(10_000_000, " ".join(f"zzfresh{i}" for i in range(40)))],
        "doc_id bigint, text string",
    )
    after = {
        r["doc_id"]: tuple(r)
        for r in api.duplicate_spans(base.unionAll(fresh)).collect()
    }
    new_row = after.pop(10_000_000)
    assert after == before
    assert new_row[3] == 0  # dup_tokens: the fresh doc itself is clean


def test_substring_rewrite_is_consistent_with_detection(spark):
    """clean_text must contain exactly n_tokens − dup_tokens tokens
    (detection and rewrite agree on what a duplicated token is), and the
    kept tokens must be a subsequence of the original document."""
    from dicebox_sensorybatchprocessor_spark import api

    docs = load(spark, SF_ORACLE, "documents").select("doc_id", "text")
    det = {
        r["doc_id"]: r for r in api.duplicate_spans(docs).collect()
    }
    rew = api.remove_duplicate_spans(docs).collect()
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(rew) == len(det)
    for r in rew:
        d = det[r["doc_id"]]
        assert r["n_removed"] == d["dup_tokens"]
        kept = r["clean_text"].split(" ") if r["clean_text"] else []
        assert len(kept) == d["n_tokens"] - d["dup_tokens"]
        # subsequence check
        it = iter(originals[r["doc_id"]].split(" "))
        assert all(tok in it for tok in kept)


def test_priority_sample_k_monotone_and_estimator_floor(spark):
    """Growing k must never evict a previously-kept item (the priority
    order is fixed; k only moves the cut line), and every survivor's
    estimator weight is ≥ its true weight (est = max(w, τ))."""
    from dicebox_sensorybatchprocessor_spark import api

    docs = load(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    k10 = {
        r["doc_id"]
        for r in api.priority_sample(docs, "n_chars", k=10).collect()
        if r["keep"]
    }
    r30 = api.priority_sample(docs, "n_chars", k=30).collect()
    k30 = {r["doc_id"] for r in r30 if r["keep"]}
    assert k10 <= k30
    for r in r30:
        if r["keep"]:
            assert r["est_weight"] >= float(r["n_chars"])
        else:
            assert r["est_weight"] == 0.0


def test_pagerank_edge_duplication_is_inert(spark):
    """The derived edge set is DISTINCT: feeding the same edge list
    twice (pre-distinct duplication) must not change ranks — degree and
    contributions are computed on the deduped relation."""
    from dicebox_sensorybatchprocessor_spark.operators.graph import (
        pagerank_fixed,
    )

    nodes = spark.range(24).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [(i, (5 * i + 1) % 24) for i in range(24)]
        + [(i, (7 * i + 2) % 24) for i in range(24)],
        "src bigint, dst bigint",
    ).distinct()
    a = sorted(map(tuple, pagerank_fixed(edges, nodes).collect()))
    b = sorted(
        map(
            tuple,
            pagerank_fixed(edges.unionAll(edges).distinct(), nodes).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# Incremental substring contract under RANDOM splits (VERDICT r13 Next #6):
# the r13 registrations pin the contract on the deterministic doc_id % 3
# split; Hypothesis drives the same two equivalences over random corpora,
# random batch counts k ∈ [2, 6], and random batch assignments:
#   (1) flagged_b  ≡  one-shot duplicate_spans(batches ≤ b) ∣ batch-b ids
#   (2) upsert(prev_full_state, state_delta)  ≡  full new_state
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

_doc_strategy = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=24),
    min_size=4,
    max_size=12,
)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    docs=_doc_strategy,
    n_batches=st.integers(min_value=2, max_value=6),
    assign_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_incremental_substring_random_splits(spark, docs, n_batches, assign_seed):
    """Chained duplicate_spans_incremental over a random split must equal
    the one-shot recompute restricted per batch, and the state_delta
    upsert must reproduce the full chained state — for EVERY prefix of
    the chain, not just the pinned %3 split."""
    import random

    from dicebox_sensorybatchprocessor_spark import api

    rng = random.Random(assign_seed)
    rows = [
        (i, " ".join(toks), rng.randrange(n_batches))
        for i, toks in enumerate(docs)
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string, batch int")
    # k=4 shingles over a 6-token vocab: collisions are common, so the
    # duplicated-span machinery actually engages on tiny corpora.
    K, MIN_COUNT = 4, 2

    state_full = None  # default full-state chain (the registered contract)
    state_upserted = None  # rebuilt from state_delta=True legs only
    for b in range(n_batches):
        batch = corpus.filter(F.col("batch") == b).select("doc_id", "text")
        flagged, new_full = api.duplicate_spans_incremental(
            batch, state_full, k=K, min_count=MIN_COUNT
        )
        _, delta = api.duplicate_spans_incremental(
            batch, state_upserted, k=K, min_count=MIN_COUNT, state_delta=True
        )

        # (1) arrival-exactness: flagged ≡ one-shot over batches ≤ b,
        # restricted to this batch's ids (the contract's defining line:
        # arrivals are scored exactly, history is never rescored).
        prefix = corpus.filter(F.col("batch") <= b).select("doc_id", "text")
        oneshot = api.duplicate_spans(
            prefix, k=K, min_count=MIN_COUNT
        ).join(batch.select("doc_id"), "doc_id", "semi")
        assert _rows(flagged) == _rows(oneshot), (
            f"batch {b}/{n_batches}: incremental flags != one-shot recompute"
        )

        # (2) delta-upsert equivalence: prev ⊕ delta == full new state.
        if state_upserted is None:
            state_upserted = delta
        else:
            state_upserted = delta.unionByName(
                state_upserted.join(
                    delta.select("__sbp_h"), "__sbp_h", "anti"
                )
            )
        assert _rows(state_upserted) == _rows(new_full), (
            f"batch {b}/{n_batches}: state_delta upsert != full state"
        )
        state_full = new_full


def test_ann_recall_sweep_measured(spark):
    """Pin the EXACT measured recall distribution at sf0.01 (the
    ivf_measured_recall discipline): the registered claim keeps a drift
    margin so the driver hash can't flip, and this test catches any
    real regression below the measured values locally."""
    from dicebox_sensorybatchprocessor_spark.llm.similarity import (
        _SWEEP_CLAIMS,
        ann_recall_sweep_measured,
    )

    stats, anchor = ann_recall_sweep_measured(spark, SF_ORACLE)
    assert anchor["n_queries"] == 100 and anchor["n_exact_rows"] == 500
    expected = {
        "lsh": (1.0, 1.0),
        "ivf": (0.4, 0.91),
        "pq": (0.8, 0.964),
        "ivfpq": (0.4, 0.91),
        "sq8": (1.0, 1.0),
    }
    got = {k: (round(v[0], 3), round(v[1], 4)) for k, v in stats.items()}
    assert got == expected
    # the registered claim bars must sit strictly below the measured
    # values (margin exists) — a bar drifting above measurement would
    # make the driver claim flip before this test fails
    for fam, (mn, mean) in stats.items():
        assert _SWEEP_CLAIMS[fam][0] < mn or mn == 0.0
        assert _SWEEP_CLAIMS[fam][1] < mean


def test_knn_join_routes_agree_and_match_knn_query(spark, monkeypatch):
    """api.knn_join's broadcast-matrix route (one Python task, and fanned
    out over several when the advisory partition size is tiny) and its
    beyond-budget crossJoin fallback must return identical rows (values
    included), and each query's rows must equal api.knn_query's
    single-vector answer — the batch op is exactly N single queries,
    computed in one pass."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, SF_ORACLE, "embeddings").limit(60)
    queries = e.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    fast = api.knn_join(queries, e, k=3, exclude_self=True)
    assert "RoundRobinPartitioning" not in _executed_plan(fast)
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(advisory)
    spark.conf.set(advisory, "1k")
    try:
        fanned = api.knn_join(queries, e, k=3, exclude_self=True)
    finally:
        spark.conf.set(advisory, saved)
    assert "RoundRobinPartitioning" in _executed_plan(fanned)
    monkeypatch.setattr(api, "_KNN_JOIN_BYTE_BUDGET", 1)
    slow = api.knn_join(queries, e, k=3, exclude_self=True)
    monkeypatch.undo()
    assert _rows(fast) == _rows(fanned) == _rows(slow)

    for q in queries.collect():
        single = api.knn_query(
            e.filter(F.col("vec_id") != q["qid"]),
            [float(x) for x in q["embedding"]],
            k=3,
        ).collect()
        batch = sorted(
            (r for r in fast.collect() if r["qid"] == q["qid"]),
            key=lambda r: r["rank"],
        )
        assert [r["vec_id"] for r in single] == [r["vec_id"] for r in batch]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_join_broadcast_route_builds_in_two_jobs_without_rerank_join(spark):
    """The broadcast-matrix route decides its route and collects the
    query side in at most two Spark jobs at plan-build time (take(1) for
    the dimension, one capped collect; no count()s), and the candidates
    carry both raw vectors, so nothing joins above the MapInPandas
    candidate pass."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, SF_ORACLE, "embeddings")
    queries = (
        e.withColumn("__k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__k", "vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    sc = spark.sparkContext
    group = "test_knn_join_build_jobs"
    sc.setJobGroup(group, "knn_join plan build")
    try:
        out = api.knn_join(queries, e, k=5, exclude_self=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    rows = out.collect()
    assert len(rows) == 20 * 5
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    above, found, _below = tree.partition("MapInPandas")
    assert found and "Join" not in above


def test_knn_join_excludes_self_even_in_narrow_partitions(spark):
    """With exclude_self and corpus partitions narrower than the
    selection margin, masked self rows must still never surface (a self
    pair re-scores to cosine 1.0 in the exact rerank)."""
    from dicebox_sensorybatchprocessor_spark import api

    rows = [(i, [float(i + 1), 1.0]) for i in range(6)]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(6)  # ~1 row per partition << the k+3 margin
    queries = spark.createDataFrame(
        rows[:3], "qid bigint, embedding array<double>"
    )
    out = api.knn_join(queries, corpus, k=2, exclude_self=True).collect()
    assert all(r["qid"] != r["vec_id"] for r in out)
    assert all(r["cosine"] < 1.0 for r in out)


def test_knn_join_drops_zero_norm_rows_both_sides(spark):
    """Zero vectors have no cosine: a zero-norm QUERY must produce no
    rows and a zero-norm CORPUS row must never be a neighbor (the
    quantize_int8/sq8 discipline)."""
    from dicebox_sensorybatchprocessor_spark import api

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [0.0, 0.0])],
        "qid bigint, embedding array<double>",
    )
    out = api.knn_join(queries, corpus, k=3).collect()
    assert {r["qid"] for r in out} == {10}
    assert {r["vec_id"] for r in out} == {1, 3}


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),  # (source, n_tokens)
        min_size=1,
        max_size=20,
    ),
    budget=st.integers(min_value=0, max_value=500),
)
def test_token_budget_matches_pure_python_reference(spark, docs, budget):
    """api.token_budget_allocation is exact integer arithmetic end to
    end, so a ~15-line pure-Python mirror must reproduce it bit for bit
    over random corpora and budgets — shares, doc counts, and realized
    token sums alike."""
    import hashlib
    import math

    from dicebox_sensorybatchprocessor_spark import api

    rows = [
        (i, " ".join(["w"] * n) if n else "", f"s{g}")
        for i, (g, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {
        r["source"]: (
            r["n_docs"], r["total_tokens"], r["alloc_tokens"],
            r["docs_selected"], r["tokens_selected"],
        )
        for r in api.token_budget_allocation(df, budget).collect()
    }

    # pure-Python mirror: split('') is one empty token -> t = n or 1
    toks = [(i, f"s{g}", n if n else 1) for i, (g, n) in enumerate(docs)]
    groups: dict[str, list[tuple[int, int]]] = {}
    for i, g, t in toks:
        groups.setdefault(g, []).append((i, t))
    w = {g: math.floor(math.sqrt(float(sum(t for _, t in ds))) * 1_000_000)
         for g, ds in groups.items()}
    tw = sum(w.values())
    exp = {}
    for g, ds in groups.items():
        alloc = (budget * w[g]) // tw
        ds_sorted = sorted(
            ds, key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0])
        )
        cum = sel_docs = sel_toks = 0
        for _, t in ds_sorted:
            cum += t
            if cum <= alloc:
                sel_docs += 1
                sel_toks += t
        exp[g] = (len(ds), sum(t for _, t in ds), alloc, sel_docs, sel_toks)
    assert got == exp


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    n_nodes=st.integers(min_value=1, max_value=10),
    edge_seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_edges=st.integers(min_value=0, max_value=18),
    iterations=st.integers(min_value=1, max_value=4),
)
def test_label_propagation_matches_pure_python_reference(
    spark, n_nodes, edge_seed, n_edges, iterations
):
    """label_propagation_fixed's recurrence (symmetrize, modal
    in-neighbor label, min tie-break, keep-own when isolated) is exact,
    so a dict-based Python mirror must agree on every node for random
    graphs, including self-loops, parallel edges, and isolated nodes."""
    import random
    from collections import Counter, defaultdict

    from dicebox_sensorybatchprocessor_spark.operators.graph import (
        label_propagation_fixed,
    )

    rng = random.Random(edge_seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    nodes = list(range(n_nodes))
    edf = (
        spark.createDataFrame(edges, "src bigint, dst bigint")
        if edges
        else spark.createDataFrame([], "src bigint, dst bigint")
    )
    ndf = spark.createDataFrame([(i,) for i in nodes], "node bigint")
    got = {
        r["node"]: r["community"]
        for r in label_propagation_fixed(
            edf, ndf, iterations=iterations, materialize=False
        ).collect()
    }

    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    inn = defaultdict(set)
    for a, b in sym:
        inn[b].add(a)
    lbl = {i: i for i in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            if not inn[v]:
                nxt[v] = lbl[v]
                continue
            counts = Counter(lbl[u] for u in inn[v])
            best = max(counts.values())
            nxt[v] = min(l for l, c in counts.items() if c == best)
        lbl = nxt
    assert got == lbl


def test_sweep_memo_insert_evicts_and_unpersists_other_entries(spark, monkeypatch):
    """ADVICE r14 #3: the sweep's index-build memo must hold at most ONE
    live entry — inserting for a new sf_dir evicts every other key,
    unpersisting same-application DataFrames (their cached blocks are
    still alive) and dropping dead-application keys outright."""
    from dicebox_sensorybatchprocessor_spark.llm import similarity as sim

    monkeypatch.setattr(sim, "_SWEEP_MEMO", {})
    monkeypatch.setattr(sim, "_SWEEP_STATS_MEMO", {})
    app = spark.sparkContext.applicationId
    d1 = spark.range(3).persist()
    d1.count()
    d2 = spark.range(4).persist()
    d2.count()
    try:
        sim._sweep_memo_insert((app, "/dir/a"), (d1, "centers"))
        sim._SWEEP_STATS_MEMO[(app, "/dir/a")] = {"ivf": (1.0, 1.0)}
        sim._SWEEP_MEMO[("dead-app", "/dir/z")] = ("not-a-dataframe",)
        sim._sweep_memo_insert((app, "/dir/b"), (d2, "centers"))
        assert set(sim._SWEEP_MEMO) == {(app, "/dir/b")}
        assert (app, "/dir/a") not in sim._SWEEP_STATS_MEMO
        assert d1.storageLevel.useMemory is False, "evicted entry must unpersist"
        assert d2.storageLevel.useMemory is True, "live entry stays cached"
    finally:
        d1.unpersist(False)
        d2.unpersist(False)


def test_knn_join_ann_full_probe_equals_exact(spark):
    """nprobe = n_cells degrades knn_join_ann to the exact linear scan:
    every cell is probed, so the candidate set is the whole (non-self)
    corpus and the rows must equal knn_join's bit for bit."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, SF_ORACLE, "embeddings").limit(60)
    queries = (
        e.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    exact = api.knn_join(queries, e, k=5, exclude_self=True).collect()
    full = api.knn_join_ann(
        queries, e, k=5, n_cells=8, nprobe=8, exclude_self=True
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, exact))


def test_knn_join_ann_measured_recall_at_sweep_dials(spark):
    """Pin the EXACT measured recall of the registered sim_knn_join_ann
    config (IVF 16 cells, nprobe 10, seed 42) at sf0.01 — the
    ivf_measured_overlap discipline: the driver-facing claims keep
    their drift margin (floor 0.2, mean 0.6) while this test catches
    any real regression below the measured 0.4 min / 0.91 mean, which
    must equal the recall sweep's IVF family (same dials, same
    quantizer geometry)."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, SF_ORACLE, "embeddings")
    queries = (
        e.withColumn("__k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__k", "vec_id")
        .limit(100)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    exact = api.knn_join(queries, e, k=5, exclude_self=True)
    ann = api.knn_join_ann(
        queries, e, k=5, n_cells=16, nprobe=10, seed=42, exclude_self=True
    )
    ex = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    hits_by_q: dict = {}
    for r in ann.collect():
        key = (r["qid"], r["vec_id"])
        hits_by_q.setdefault(r["qid"], 0)
        if key in ex:
            hits_by_q[r["qid"]] += 1
    qids = {q for q, _ in ex}
    recalls = [hits_by_q.get(q, 0) / 5 for q in qids]
    assert len(recalls) == 100
    assert min(recalls) == 0.4
    assert round(sum(recalls) / len(recalls), 4) == 0.91


def _mk_shingles(df):
    """Mirror of llm.dedup._shingles over an arbitrary (doc_id, text)
    relation: distinct 8-char shingles, short texts emit none."""
    return df.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 8 THEN"
                " transform(sequence(1, length(text) - 7),"
                " i -> substring(text, i, 8))"
                " ELSE array() END"
            )
        ).alias("s"),
    ).distinct()


def _oneshot_communities(spark, docs):
    from dicebox_sensorybatchprocessor_spark import api
    from dicebox_sensorybatchprocessor_spark.operators.graph import (
        label_propagation_fixed,
    )

    cand = api.minhash_banded_candidates(
        _mk_shingles(docs), rows=8, bands=4
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("node"))
    return {
        r["node"]: r["community"]
        for r in label_propagation_fixed(
            cand, nodes, iterations=3, materialize=False
        ).collect()
    }


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    phrases=st.lists(st.integers(0, 5), min_size=2, max_size=14),
    batch_of=st.lists(st.integers(0, 2), min_size=2, max_size=14),
)
def test_communities_incremental_matches_oneshot(spark, phrases, batch_of):
    """api.lpa_communities_incremental's contract: after any sequence of
    id-disjoint batches, the labels equal the one-shot
    bands→pairs→LPA(3) run on the union corpus — bit for bit, on random
    corpora drawn from a colliding phrase pool and random 3-way batch
    assignments."""
    from dicebox_sensorybatchprocessor_spark import api

    pool = [
        "the quick brown fox jumps over",
        "the quick brown fox leaps over",
        "pack my box with five dozen jugs",
        "sphinx of black quartz judge my vow",
        "sphinx of black quartz judge my bow",
        "tiny",  # < 8 chars: no shingles, must stay singleton
    ]
    rows = [(i, pool[p]) for i, p in enumerate(phrases)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    state, labels = None, None
    for b in range(3):
        ids = [i for i, _ in enumerate(phrases) if batch_of[i % len(batch_of)] == b or (b == 2 and batch_of[i % len(batch_of)] > 2)]
        batch = docs.filter(F.col("doc_id").isin(ids) if ids else F.lit(False))
        if not ids:
            continue
        labels, state = api.lpa_communities_incremental(
            _mk_shingles(batch), batch.select("doc_id"), state
        )
    # every doc assigned to exactly one batch above (batch_of maps 0-2)
    got = {r["doc_id"]: r["community"] for r in labels.collect()}
    want = _oneshot_communities(spark, docs)
    assert got == want


def test_communities_incremental_untouched_passthrough(spark):
    """A batch that shares no shingle with a standing component must
    leave that component's ENTIRE label history untouched — the
    O(touched) contract: state rows pass through verbatim, they are
    not recomputed-and-equal."""
    from dicebox_sensorybatchprocessor_spark import api

    a = [(0, "alpha alpha alpha alpha"), (1, "alpha alpha alpha alpha"),
         (2, "alpha alpha alpha alarm")]
    b = [(10, "zebra zebra zebra zebra"), (11, "zebra zebra zebra zebra")]
    docs_a = spark.createDataFrame(a, "doc_id bigint, text string")
    docs_b = spark.createDataFrame(b, "doc_id bigint, text string")
    _, st1 = api.lpa_communities_incremental(
        _mk_shingles(docs_a), docs_a.select("doc_id"), None
    )
    hist1 = {r["doc_id"]: (r["l1"], r["l2"], r["l3"])
             for r in st1["labels"].collect()}
    labels2, st2 = api.lpa_communities_incremental(
        _mk_shingles(docs_b), docs_b.select("doc_id"), st1
    )
    hist2 = {r["doc_id"]: (r["l1"], r["l2"], r["l3"])
             for r in st2["labels"].collect()}
    for i in (0, 1, 2):
        assert hist2[i] == hist1[i], i
    # no cross edges may exist between the components
    cross = st2["edges"].filter(
        (F.col("src") < 10) != (F.col("dst") < 10)
    ).count()
    assert cross == 0
    got = {r["doc_id"]: r["community"] for r in labels2.collect()}
    union = docs_a.unionByName(docs_b)
    assert got == _oneshot_communities(spark, union)


def test_semantic_decontaminate_semantics(spark):
    """Unit semantics of api.semantic_decontaminate: exact nearest ref
    with smallest-id tie-break, integer-exact threshold gate, zero-norm
    exclusion on both sides, and a loud failure on an over-budget
    reference set."""
    import pytest as _pytest

    from dicebox_sensorybatchprocessor_spark import api

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),       # cos 1.0 vs ref 100 -> contaminated
            (2, [0.0, 1.0]),       # cos 1.0 vs refs 101 AND 102 (tie -> 101)
            (3, [-1.0, 0.0]),      # max cos 0.0 -> clean
            (4, [0.0, 0.0]),       # zero-norm: excluded
        ],
        "vec_id bigint, embedding array<double>",
    )
    ref = spark.createDataFrame(
        [
            (100, [2.0, 0.0]),
            (101, [0.0, 3.0]),
            (102, [0.0, 5.0]),
            (103, [0.0, 0.0]),     # zero-norm ref: excluded
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["nearest_ref_id"], r["max_cosine"], r["contaminated"])
        for r in api.semantic_decontaminate(
            corpus, ref, threshold_microcos=990_000
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] == (100, 1.0, True)
    assert out[2] == (101, 1.0, True)   # tie broken by smallest ref id
    # max cosine 0.0 is reached by refs 101 AND 102 (ref 100 scores -1);
    # the tie again breaks to the smaller ref id
    assert out[3] == (101, 0.0, False)

    import dicebox_sensorybatchprocessor_spark.api as api_mod

    orig = api_mod._SEMDECON_REF_BYTE_BUDGET
    try:
        api_mod._SEMDECON_REF_BYTE_BUDGET = 8
        with _pytest.raises(ValueError, match="too large to broadcast"):
            api.semantic_decontaminate(corpus, ref)
    finally:
        api_mod._SEMDECON_REF_BYTE_BUDGET = orig


def test_blocked_allpairs_routes_equal_broadcast_routes(spark, monkeypatch):
    """r16 (VERDICT r15 #1): past _INDEX_BYTE_BUDGET the embedding
    all-pairs family must run the blocked cogrouped kernel — same
    per-dimension IEEE fold, so BIT-IDENTICAL rows — instead of the
    pre-r15 interpreted-HOF nested-loop joins, and must never collect
    the relation. Forces the budget to 0 with a tiny block target (so
    several blocks and the off-diagonal orientation logic are actually
    exercised) and a kernel chunk cap small enough to exercise the
    probe-chunk loop, then compares every op's rows exactly against its
    broadcast route."""
    from dicebox_sensorybatchprocessor_spark.llm import curation as C
    from dicebox_sensorybatchprocessor_spark.llm import dedup as D
    from dicebox_sensorybatchprocessor_spark.llm import similarity as S

    fast = {
        "margin": _rows(S.emb_label_margin.__wrapped__(spark, SF_ORACLE)),
        "dedup_emb": _rows(D.dedup_embedding.__wrapped__(spark, SF_ORACLE)),
        "buckets": _rows(C.dedup_semantic_buckets.__wrapped__(spark, SF_ORACLE)),
        "radius": _rows(S._exact_radius_pairs(spark, SF_ORACLE)),
    }
    assert fast["margin"] and fast["buckets"] and fast["radius"]

    monkeypatch.setattr(S, "_INDEX_BYTE_BUDGET", 0)
    monkeypatch.setattr(S, "_BLOCK_TARGET_BYTES", 64 << 10)
    monkeypatch.setattr(S, "_KERNEL_CHUNK_BYTES", 16 << 10)

    def _boom(*a, **k):
        raise AssertionError("driver collect ran on the blocked route")

    monkeypatch.setattr("pyspark.sql.DataFrame.toPandas", _boom, raising=True)

    blocked = {
        "margin": _rows(S.emb_label_margin.__wrapped__(spark, SF_ORACLE)),
        "dedup_emb": _rows(D.dedup_embedding.__wrapped__(spark, SF_ORACLE)),
        "buckets": _rows(C.dedup_semantic_buckets.__wrapped__(spark, SF_ORACLE)),
        "radius": _rows(S._exact_radius_pairs(spark, SF_ORACLE)),
    }
    assert blocked == fast


def test_blocked_route_plan_and_zero_probe_jobs(spark, monkeypatch):
    """The over-budget route must (a) plan the blocked Arrow kernel —
    FlatMapGroupsInPandas, no BroadcastNestedLoopJoin, no interpreted
    HOF nested loop — and (b) decide the route from parquet footers:
    building the plan launches ZERO Spark jobs (r16, VERDICT r15 #3 —
    the r15 gates ran a count() plus a first() scan just to pick the
    route)."""
    from dicebox_sensorybatchprocessor_spark.llm import dedup as D
    from dicebox_sensorybatchprocessor_spark.llm import similarity as S

    monkeypatch.setattr(S, "_INDEX_BYTE_BUDGET", 0)
    sc = spark.sparkContext
    group = "r16-zero-probe-jobs"
    sc.setJobGroup(group, "plan build must not launch jobs")
    try:
        dfs = {
            "margin": S.emb_label_margin.__wrapped__(spark, SF_ORACLE),
            "dedup_emb": D.dedup_embedding.__wrapped__(spark, SF_ORACLE),
            "radius": S._exact_radius_pairs(spark, SF_ORACLE),
        }
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs == [], f"route probe launched Spark jobs: {jobs}"
    for name, df in dfs.items():
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "FlatMapGroupsInPandas" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_containment_prefix_route_equals_gemm_route(spark, monkeypatch):
    """r16 (VERDICT r15 #2): past its byte budgets text_containment must
    run the one-sided prefix-filter + exact-verify composition — with no
    occurrence-level self-join on raw shingles — and return exactly the
    GEMM route's rows."""
    from dicebox_sensorybatchprocessor_spark.llm import text as T

    fast = _rows(T.text_containment.__wrapped__(spark, SF_ORACLE))
    assert fast  # the fixture really has qualifying pairs

    monkeypatch.setattr(T, "_CONTAIN_TEXT_BUDGET", 0)
    sc = spark.sparkContext
    group = "r16-containment-prefix"
    sc.setJobGroup(group, "plan build must not launch jobs")
    try:
        df = T.text_containment.__wrapped__(spark, SF_ORACLE)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the candidate side must come from prefix buckets, not a raw
    # occurrence self-join: the only joins are the two merge-hinted
    # verify attaches on doc_a/doc_b (formatted explain names each join
    # twice — once in the tree, once in the operator details)
    assert plan.count("SortMergeJoin") == 4, plan.count("SortMergeJoin")
    assert "BroadcastHashJoin" not in plan
    assert _rows(df) == fast

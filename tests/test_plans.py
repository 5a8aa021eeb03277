"""Physical-plan shape assertions (SURVEY.md §4) — the properties that make
an operator survive a 100× scale-up are plan-level, not result-level:
filters reaching the parquet scan, dimension joins broadcasting instead of
shuffling, top-k avoiding a global sort, window top-k using the group-limit
rewrite, and hot paths staying inside whole-stage codegen. Correctness
tests can't catch a regression from BroadcastHashJoin to SortMergeJoin;
these do."""

from __future__ import annotations

import re

import pytest

from dicebox_sensorybatchprocessor_spark import all_queries
from tests.conftest import SF_ORACLE

_SPECS = all_queries()


def _plan(spark, name: str) -> str:
    """Formatted explain of the physical plan — executed first so
    AdaptiveSparkPlan has re-planned and codegen ids are assigned. The full
    text includes the node-detail section (codegen ids, PushedFilters,
    ReadSchema); node-detail annotations only exist for executed final-plan
    nodes, so presence checks are AQE-safe."""
    df = _SPECS[name].fn(spark, SF_ORACLE)
    df.collect()
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _final_tree(plan: str) -> str:
    """The final-plan operator tree only (for node *counts*, which would
    double under AQE's Initial Plan rendering)."""
    if "== Final Plan ==" in plan:
        return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return plan.split("\n\n")[0]


def test_limit_topk_avoids_global_sort(spark):
    """ORDER BY + LIMIT k must be a per-partition heap + driver merge
    (TakeOrderedAndProject), never a full global sort — the difference
    between O(n log k) per partition and a whole-table shuffle at 100 TB."""
    plan = _plan(spark, "limit_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_win_topk_group_uses_group_limit(spark):
    """row_number per group + rn<=k filter must hit Spark's WindowGroupLimit
    rewrite (partial per-partition top-k heap before the shuffle), so only
    ~k rows per group per partition shuffle instead of the full table."""
    plan = _plan(spark, "win_topk_group")
    assert "WindowGroupLimit" in plan
    # partial (pre-shuffle) + final (post-shuffle) instances
    assert plan.count("WindowGroupLimit") >= 2


@pytest.mark.parametrize("name", ["join_inner", "join_left", "join_semi", "join_anti"])
def test_dim_joins_broadcast(spark, name):
    """Fact⋈dim equi-joins must broadcast the small side — no shuffle of the
    fact table for a dimension lookup."""
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_star_join_broadcasts_all_dims(spark):
    """The 4-dim star join must broadcast every dimension; the lineitem fact
    table must never be the build side or shuffle for the join itself."""
    plan = _plan(spark, "join_multiway")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    ("name", "pushed"),
    [
        ("q1_pricing_summary", "LessThanOrEqual(l_shipdate"),
        ("filter_between", "l_shipdate"),
        ("filter_in", "In(o_orderpriority"),
    ],
)
def test_filters_reach_parquet_scan(spark, name, pushed):
    """Predicates must appear in the scan's PushedFilters so parquet
    row-group/page statistics can skip IO — the first-order term at scale."""
    plan = _plan(spark, name)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and pushed in m.group(1), f"filter not pushed in {name}: {m}"


def test_q1_scan_prunes_columns(spark):
    """Q1 touches 7 of lineitem's 11 columns; the scan must read only
    those (ReadSchema pruning)."""
    plan = _plan(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_dedup_exact_scan_prunes_columns(spark):
    """Content-hash dedup needs only (doc_id, text); reading lang/source/
    n_chars at 100 TB would be pure waste."""
    plan = _plan(spark, "dedup_exact")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


@pytest.mark.parametrize("name", ["q1_pricing_summary", "agg_hash", "join_multiway"])
def test_hot_paths_whole_stage_codegen(spark, name):
    """Aggregation and join hot paths must run inside whole-stage codegen
    (operators tagged with a codegen id in the physical plan)."""
    plan = _plan(spark, name)
    assert "codegen id" in plan, f"no codegen stage in {name}"


def test_q1_single_shuffle(spark):
    """Q1 is partial-agg → one shuffle on the group keys → final agg;
    any second exchange is a planning regression."""
    tree = _final_tree(_plan(spark, "q1_pricing_summary"))
    assert len(re.findall(r"Exchange \(\d+\)", tree)) == 1


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key ⇒ the sort-merge join AND the
    following per-key aggregate reuse the bucket partitioning — the plan
    must contain zero shuffles. This is the ingest-once/join-many pattern
    that avoids re-shuffling 100 TB per join."""
    plan = _plan(spark, "join_bucketed")
    tree = _final_tree(plan)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in tree, tree


def test_salted_join_spreads_key(spark):
    """The salted join must execute as a shuffle join on (key, salt) —
    a broadcast would bypass the salting being demonstrated."""
    plan = _plan(spark, "join_skew_salted")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "salt" in plan


def test_sql_q3_topk_and_broadcasts(spark):
    """The SQL-surface Q3 must plan exactly like its DataFrame siblings:
    broadcast joins for the filtered dims, top-10 via
    TakeOrderedAndProject, filters pushed on all three scans."""
    plan = _plan(spark, "sql_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("PushedFilters: [") >= 3


def test_sql_q5_six_way_broadcast_star(spark):
    """Q5's 6-way join must broadcast every dimension side."""
    plan = _plan(spark, "sql_q5_local_supplier_volume")
    assert _final_tree(plan).count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_sql_q6_is_pure_scan_aggregate(spark):
    """Q6 is the canonical pushdown query: no joins at all, every
    predicate at the scan."""
    plan = _plan(spark, "sql_q6_forecast_revenue")
    assert "Join" not in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1)


def test_sim_cosine_is_arrow_batched(spark):
    """The cosine top-k candidate generator must be an Arrow-batched
    mapInPandas (one BLAS matmul per batch), not a row-at-a-time UDF."""
    plan = _plan(spark, "sim_cosine_topk")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time python UDF marker


def test_nested_struct_scan_prunes_to_struct(spark):
    """Stored-struct query must read ONLY the meta struct from the derived
    parquet — not event_id/attrs/v_null/etype_null. Nested-schema pruning
    is what keeps a 100 TB wide-nested scan proportional to the fields
    actually touched."""
    plan = _plan(spark, "nested_struct_stored")
    m = re.search(r"ReadSchema: struct<([^\n]*)>$", plan, re.M)
    assert m, plan
    schema = m.group(1)
    assert schema.startswith("meta:struct<"), schema
    for absent in ("attrs", "v_null", "etype_null", "event_id"):
        assert absent not in schema, schema


@pytest.mark.parametrize(
    "name",
    [
        "sql_exists_subquery",
        "sql_scalar_subquery",
        # deep-SQL batch: Q2's correlated scalar-min over a 4-dim join
        # stack, Q20's nested IN with a correlated scalar over a grouped
        # derived table, Q21's EXISTS + NOT EXISTS double correlation,
        # Q22's anti-join — all must land as joins, never re-executed
        # per outer row.
        "sql_q2_min_cost_supplier",
        "sql_q20_promo_concentration",
        "sql_q21_sole_blame",
        "sql_q22_dormant_value",
    ],
)
def test_correlated_subqueries_decorrelate_to_joins(spark, name):
    """Correlated EXISTS / scalar-aggregate subqueries must be rewritten
    into joins (semi join / aggregate+join) — a per-outer-row subquery
    re-execution would be O(n²) at scale. The final plan must contain a
    hash join and no InSubquery/ScalarSubquery expression nodes."""
    plan = _plan(spark, name)
    tree = _final_tree(plan)
    assert "Join" in tree, tree
    assert "Subquery" not in tree, tree


def test_dpp_join_prunes_partitions(spark):
    """join_dpp_partitioned's fact scan must carry a dynamicpruning
    partition filter derived from the dimension at runtime — the join-
    driven scan-elimination mechanism that matters most on partitioned
    100 TB layouts."""
    plan = _plan(spark, "join_dpp_partitioned")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_corpus_sample_rates_join_broadcasts(spark):
    """corpus_sample_temperature's per-source rates table (≤20 rows) must
    broadcast — a shuffled join keyed on 20 sources would put the whole
    corpus through a 20-partition exchange at scale."""
    plan = _plan(spark, "corpus_sample_temperature")
    assert "BroadcastHashJoin" in _final_tree(plan), plan[:2000]


def test_emb_quantize_stays_jvm_side(spark):
    """emb_quantize_int8 is pure higher-order-function arithmetic: no
    Python evaluation node and no shuffle — one scan, one project."""
    plan = _plan(spark, "emb_quantize_int8")
    tree = _final_tree(plan)
    assert "BatchEvalPython" not in tree, tree
    assert "ArrowEvalPython" not in tree, tree
    assert "Exchange" not in tree, tree


def test_dedup_incremental_no_python(spark):
    """dedup_incremental's fingerprint probes are hash joins over
    engine-side hashes — no Python evaluation anywhere."""
    plan = _plan(spark, "dedup_incremental")
    tree = _final_tree(plan)
    assert "BatchEvalPython" not in tree, tree
    assert "ArrowEvalPython" not in tree, tree


def test_interval_join_is_equi_not_nested_loop(spark):
    """join_interval_chunked's whole point is turning an interval theta-
    join into an equi-join on (user_id, chunk): the plan must be a hash/
    sort-merge equi-join with the overlap predicate as a residual, never
    BroadcastNestedLoopJoin/CartesianProduct."""
    plan = _plan(spark, "join_interval_chunked")
    tree = _final_tree(plan)
    assert "NestedLoop" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert any(j in tree for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), tree


def test_running_distinct_single_exchange(spark):
    """win_running_distinct's two Window nodes must share one user_id
    exchange (the flag window deliberately avoids partitioning by
    (user_id, event_type), which would shuffle the table a second
    time)."""
    plan = _plan(spark, "win_running_distinct")
    tree = _final_tree(plan)
    assert tree.count("Window (") >= 2 or tree.count("Window(") >= 2, tree
    assert len(re.findall(r"Exchange \(\d+\)", tree)) == 1, tree


def test_decontaminate_bench_side_broadcasts(spark):
    """decontaminate_ngram's benchmark n-gram set is tiny by definition
    (an eval suite, not a corpus): its probe join must broadcast the
    bench side so the corpus n-grams are checked map-side — a shuffled
    join here would re-shuffle the whole corpus on ngram at 100 TB."""
    plan = _plan(spark, "decontaminate_ngram")
    tree = _final_tree(plan)
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_rp_dim_reduce_stays_map_only(spark):
    """emb_dim_reduce_rp is a map-only pass (r15 form): the md5-derived
    sign folds run vectorized in ONE Arrow worker pass (MapInPandas —
    the interpreted per-row HOF fold never entered codegen), with no
    row-at-a-time Python nodes and no KEYED shuffle — the only Exchange
    allowed is the round-robin fan-out that widens the single-row-group
    fixture scan to the session's cores."""
    plan = _plan(spark, "emb_dim_reduce_rp")
    tree = _final_tree(plan)
    assert "BatchEvalPython" not in tree, tree
    assert "ArrowEvalPython" not in tree, tree
    assert "MapInPandas" in tree, tree
    assert "hashpartitioning" not in tree, tree
    assert "rangepartitioning" not in tree, tree


def test_unigram_lm_single_corpus_scan(spark):
    """text_unigram_lm_score derives vocab and the corpus total from the
    doc-term TF aggregate, so the exploded-token exchange is computed once
    and REUSED — a second corpus scan+explode per statistic would double
    the most expensive stage at 100 TB. The vocab probe join must
    broadcast (vocabulary ≪ corpus)."""
    plan = _plan(spark, "text_unigram_lm_score")
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") == 1, tree
    assert "ReusedQueryStage" in tree or "ReusedExchange" in plan, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_token_entropy_no_window_sort(spark):
    """text_token_entropy uses H = log2(n) − Σc·log2(c)/n, so no per-doc
    total needs windowing onto term rows: the plan must be explode → two
    stacked hash-aggregates with NO Window and NO Sort node."""
    plan = _plan(spark, "text_token_entropy")
    tree = _final_tree(plan)
    assert "Window" not in tree, tree
    assert "Sort (" not in tree and "Sort(" not in tree, tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree, tree


def test_dedup_prefix_fixed_width_key_agg(spark):
    """dedup_prefix's group relation is keyed by a 16-byte md5 — the
    hash-agg and join must operate on the key, never re-shuffle document
    text; no Python nodes, no cartesian."""
    plan = _plan(spark, "dedup_prefix")
    tree = _final_tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree, tree


def test_decontaminate_bloom_broadcasts_bitset(spark):
    """decontaminate_bloom must probe via a BROADCAST of the integer
    bitset relation (the whole point of the bloom seam: the corpus is
    never shuffled on ngram for the membership test), and the follow-up
    exact verify join must also broadcast (bench set ≪ corpus). No
    SortMergeJoin anywhere in the final plan."""
    plan = _plan(spark, "decontaminate_bloom")
    tree = _final_tree(plan)
    assert tree.count("BroadcastHashJoin") >= 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_audio_feature_map_only(spark):
    """mm_audio_feature is feature extraction: one ArrowEvalPython-family
    node (mapInPandas), ZERO Exchange — output partitioning must follow
    input partitioning, because at 100 TB any shuffle of raw media bytes
    dwarfs the decode cost itself."""
    plan = _plan(spark, "mm_audio_feature")
    tree = _final_tree(plan)
    assert "Exchange" not in tree, tree
    assert "MapInPandas" in tree or "ArrowEvalPython" in tree or "PythonMapInArrow" in tree, tree


def test_quality_composite_single_scan(spark):
    """text_quality_composite must compute all four quality statistics
    from ONE corpus scan: the TF exchange is reused for the vocabulary
    rollup, the vocab probe broadcasts, and there is no Window/Sort —
    the whole point of the composed op vs four separate scans."""
    plan = _plan(spark, "text_quality_composite")
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") == 1, tree
    assert "ReusedQueryStage" in tree or "ReusedExchange" in plan, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Window" not in tree, tree


def test_image_resize_map_only(spark):
    """mm_image_resize must stay map-only (zero Exchange): shuffling raw
    media bytes to resize them would dominate the kernel cost at scale."""
    plan = _plan(spark, "mm_image_resize")
    tree = _final_tree(plan)
    assert "Exchange" not in tree, tree
    assert "MapInPandas" in tree or "ArrowEvalPython" in tree or "PythonMapInArrow" in tree, tree


def test_real_codec_legs_map_only(spark):
    """The r12 REAL-kernel registered legs (PPM box-filter resize,
    µ-law windowed energy) carry the same zero-Exchange contract as the
    stub twins: synth → encode → real decode runs inside one
    mapInPandas, no shuffle of media bytes."""
    for q in ("mm_ppm_resize_real", "mm_mulaw_energy_real"):
        plan = _plan(spark, q)
        tree = _final_tree(plan)
        # media/synth bytes are never shuffled on a KEY; the only
        # exchange allowed is the round-robin fan-out that widens the
        # one-split fixture scan (r15, fan_out_scan on the µ-law leg —
        # column pruning drops everything but doc_id below it)
        assert tree.count("Exchange") <= 1, (q, tree)
        if "Exchange" in tree:
            assert "RoundRobinPartitioning" in plan, (q, plan)
            assert "hashpartitioning" not in plan, (q, plan)
        assert (
            "MapInPandas" in tree
            or "ArrowEvalPython" in tree
            or "PythonMapInArrow" in tree
        ), (q, tree)


def test_curation_capstone_plan_ledger(spark):
    """pipeline_curation_capstone's shuffle/scan ledger: the quality pass
    reuses the TF exchange (one statistics scan), the corpus re-scan for
    the gate join and the prefix key are bounded (≤4 total scans — at
    100 TB you'd checkpoint the gated subset instead), and nothing is
    cartesian or Python-evaluated. The gate join legitimately sorts/
    merges: both sides are corpus-sized at scale, so SMJ on doc_id is
    the correct physical choice, not a regression."""
    plan = _plan(spark, "pipeline_curation_capstone")
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") <= 4, tree
    assert "ReusedQueryStage" in tree or "ReusedExchange" in plan, tree
    assert "CartesianProduct" not in tree, tree
    assert "EvalPython" not in tree, tree


def test_curation_capstone_materialized_route(spark):
    """The 100 TB seam the capstone plan ledger documents, actually built
    (VERDICT r5 #5): api.curation_pipeline(materialize=True) checkpoints
    the gated subset, so everything downstream of the gate (prefix-key
    derivation, survivor join, manifest) reads the checkpointed stage —
    ZERO parquet re-scans in the final plan — and the manifest is
    identical to the lazy route's."""
    from dicebox_sensorybatchprocessor_spark import api, load

    lazy = api.curation_pipeline(load(spark, SF_ORACLE, "documents"))
    mat = api.curation_pipeline(
        load(spark, SF_ORACLE, "documents"), materialize=True
    )
    assert sorted(map(str, mat.collect())) == sorted(map(str, lazy.collect()))
    plan = spark._jvm.PythonSQLUtils.explainString(
        mat._jdf.queryExecution(), "formatted"
    )
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") == 0, tree
    assert "ExistingRDD" in tree, tree


def test_dq_profile_one_scan_no_joins(spark):
    """dq_profile's one-pass claim is a plan property: every metric
    (completeness, distinct cardinalities, ranges) aggregates over a
    SINGLE parquet scan — one job per batch promotion, not one per
    column — and nothing joins."""
    plan = _plan(spark, "dq_profile")
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree


def test_dq_constraints_fk_antijoins_broadcast(spark):
    """The FK checks must anti-join against a BROADCAST distinct key
    list (the PK side reduces to keys before shipping), never
    sort-merge: at 100 TB the child table streams map-side past the
    broadcast key set."""
    plan = _plan(spark, "dq_constraints")
    tree = _final_tree(plan)
    assert "BroadcastHashJoin" in tree and "LeftAnti" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_snapshot_diff_single_join(spark):
    """cdc_snapshot_diff is ONE full-outer join on the key — no
    re-scans per change class, no nested loops. (SMJ is the correct
    physical choice: both snapshots are table-sized; at scale bucketing
    both sides on the key removes the exchanges.)"""
    plan = _plan(spark, "cdc_snapshot_diff")
    tree = _final_tree(plan)
    assert tree.count("Join") == 1, tree
    assert "FullOuter" in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_dedup_survivors_assignment_is_not_quadratic(spark):
    """dedup_survivors' corpus-side work must stay linear: the label
    relation (edge-node-sized) joins onto documents with a hash join —
    never a cartesian/nested-loop — and the corpus itself never
    self-joins in the assignment stage (the pair generation upstream is
    the separately-audited banded path)."""
    plan = _plan(spark, "dedup_survivors")
    tree = _final_tree(plan)
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "EvalPython" not in tree, tree


def test_cap_per_group_single_exchange(spark):
    """sample_cap_per_group is ONE shuffle (the group-key window);
    the md5 rank must not introduce a second exchange or any join."""
    plan = _plan(spark, "sample_cap_per_group")
    tree = _final_tree(plan)
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree


def test_dq_drift_two_profile_scans_tiny_join(spark):
    """dq_drift pays exactly the two batch-profile scans; the metric
    unpivot join is metric-count-sized (broadcast, never sort-merge) and
    nothing is cartesian."""
    plan = _plan(spark, "dq_drift")
    tree = _final_tree(plan)
    assert tree.count("Scan parquet") == 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_events_ohlc_single_exchange(spark):
    """Both OHLC window functions and the following hash aggregate must
    share ONE shuffle on (event_type, hour) — the bucket is materialized
    before the windows precisely so the aggregate's requirement is
    satisfied by the window Exchange."""
    tree = _final_tree(_plan(spark, "events_ohlc"))
    assert tree.count("Exchange") == 1, tree


def test_weighted_percentiles_single_exchange(spark):
    """agg_weighted_percentiles: ordered cumsum window, partition-total
    window, and the final aggregate all reuse the l_returnflag
    partitioning — one Exchange, no join."""
    tree = _final_tree(_plan(spark, "agg_weighted_percentiles"))
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree


def test_merge_into_plans_left_join_never_full_outer(spark, tmp_path):
    """merge_into's update/delete leg must be a LEFT join of the region
    onto the source — never the full-outer equi-join it replaced, which
    forces a key shuffle of the whole region even for a one-row source.
    A left join is AQE-convertible to broadcast at runtime (full outer
    is not); a parquet-backed small source with stats broadcasts
    statically. The pre-execution plan is what lake.stage receives, so
    we assert the join TYPE here (broadcast conversion is AQE's runtime
    call for stats-free local relations)."""
    from dicebox_sensorybatchprocessor_spark import lake

    t = lake.ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.range(50_000).selectExpr("CAST(id AS INT) k", "CAST(id AS DOUBLE) x")
    )
    plans = []
    real_stage = t.stage

    def capturing_stage(df, n_files=None):
        plans.append(
            spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        return real_stage(df, n_files=n_files)

    t.stage = capturing_stage
    lake.merge_into(
        t,
        spark.createDataFrame([(7, 1.0)], "k int, d double"),
        ("k",),
        matched_update={"x": "t.x + s.d"},
        insert_unmatched=False,
    )
    t.stage = real_stage
    assert plans, "merge staged nothing"
    assert "LeftOuter" in plans[0], plans[0]
    assert "FullOuter" not in plans[0], plans[0]
    assert "CartesianProduct" not in plans[0], plans[0]


def test_star_emission_plans_window_not_self_join(spark):
    """The star emitter's scale claim is structural (r12 hybrid form):
    the UNBOUNDED leg — buckets past the 32-doc cap, where quadratic
    emission would actually blow up — plans window functions only, no
    self-join; the self-join that does appear serves ONLY the sub-cap
    buckets (its inputs are filtered `__c <= 32`, so its per-bucket
    cost is a constant ≤ C(32,2)); and the band relation is built ONCE
    (ReusedExchange feeds every leg). Pinned two ways: the default plan
    shows the gated join + windows + reuse, and forcing every bucket
    onto the star leg (cap=0) plans NO join at all — the pre-r12
    invariant, preserved for the leg that handles growth."""
    from dicebox_sensorybatchprocessor_spark import api
    from dicebox_sensorybatchprocessor_spark.io import load

    sh = api.char_shingles(
        load(spark, SF_ORACLE, "documents").select("doc_id", "text"),
        text_col="text", id_col="doc_id", k=8,
    )

    def full_and_tree(df):
        df.collect()
        s = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return s, _final_tree(s)

    bands = api._minhash_band_relation(sh, "doc_id", "s", 8, 4)
    # star-only leg (cap=0): window emission, structurally join-free
    _, star_only = full_and_tree(api._star_from_bands(bands, "doc_id", 0))
    assert "Window" in star_only, star_only
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", star_only
    ), star_only
    # default hybrid: join present but gated by the bucket-size cap on
    # BOTH inputs, band relation exchange reused across legs
    full, hybrid = full_and_tree(api._star_from_bands(bands, "doc_id"))
    assert "Window" in hybrid and "ReusedExchange" in hybrid, hybrid
    assert len(re.findall(r"<= 32", full)) >= 2, full  # both join inputs capped
    # pairs mode (r15): bucket-grouped emission — the band equi-SELF-JOIN
    # is gone (its BroadcastHashJoin build side re-ran the whole
    # scan → shingle → md5⁸ → min-agg subtree a second time), so the plan
    # must be join-free and contain exactly ONE signature subtree.
    _, pairs = full_and_tree(api.minhash_banded_candidates(sh))
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", pairs
    ), pairs
    assert len(re.findall(r"Scan parquet", pairs)) <= 1, pairs


def test_ivfpq_probe_prunes_codes_scan(spark):
    """IVF-PQ's query-side economics are plan-level: the ADC stage must
    (a) push the probed-cell membership filter down to the codes scan
    and (b) take the shortlist via TakeOrderedAndProject (per-partition
    heaps), never a global Sort; the rerank joins the tiny shortlist by
    BROADCAST. At cluster scale (cell = partition column) the same
    filter is partition pruning."""
    from pyspark.sql import functions as F

    from dicebox_sensorybatchprocessor_spark import api
    from dicebox_sensorybatchprocessor_spark.io import load

    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    q = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
    corpus = e.filter(F.col("vec_id") > 0)
    codes, centers, books = api.ivfpq_index(
        corpus, n_cells=8, n_segments=8, n_codes=16, seed=7
    )
    df = api.ivfpq_search(corpus, codes, centers, books, q, k=5, nprobe=2,
                          shortlist=20)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = _final_tree(plan)
    assert "TakeOrderedAndProject" in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert re.search(r"cell.*(IN|INSET)|(IN|INSET).*cell", plan, re.IGNORECASE), plan


def test_chunk_overlap_map_only_no_python(spark):
    """text_chunk_overlap is a pure JVM explode: zero Exchange (output
    partitioning follows input), no Python evaluation anywhere — the
    chunk fan-out must not cost a shuffle or an Arrow hop."""
    tree = _final_tree(_plan(spark, "text_chunk_overlap"))
    assert "Exchange" not in tree, tree
    for bad in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow"):
        assert bad not in tree, tree


def test_quality_classifier_codegen_explode_hashagg(spark):
    """The hashed linear classifier's r15 claim (VERDICT r14 weak-entry
    fix): explode + codegen'd weight projection + partial/final hash
    aggregate, no Python worker, ONE doc-keyed Exchange carrying
    map-side partial sums (doc-count-sized, never token-sized). The r12
    zero-Exchange HOF fold this replaced ran INTERPRETED — Spark never
    codegens higher-order-function lambdas — and cost 2.7x the DuckDB
    baseline; the shuffle is the cheaper deal because everything around
    it stays inside WholeStageCodegen."""
    plan = _plan(spark, "text_quality_classifier")
    tree = _final_tree(plan)
    assert "Python" not in plan
    assert "Generate" in tree  # the explode
    # two exchanges: the keyed partial/final agg shuffle plus the
    # round-robin fan-out that widens the one-split fixture scan (r15,
    # fan_out_scan) — the fan-out carries no keyed repartitioning
    assert tree.count("Exchange") == 2, tree
    assert "RoundRobinPartitioning" in plan, plan
    # '*' is the formatted-plan codegen marker: the aggregate and the
    # weight projection both run inside WholeStageCodegen
    assert "* HashAggregate" in tree, tree
    assert "* Project" in tree, tree


def test_pii_extract_zero_exchange_no_python(spark):
    """regexp_extract_all/regexp_replace are JVM intrinsics: the PII leg
    must be a single map-only projection."""
    plan = _plan(spark, "text_pii_extract")
    tree = _final_tree(plan)
    assert "Exchange" not in tree
    assert "Python" not in plan


def test_dedup_substring_no_self_join(spark):
    """Substring-span dedup must mark recurring shingles with ONE count
    window over the shingle hash — a groupBy + join-back would shuffle
    the token-sized shingle relation twice, and a self-join would be the
    quadratic shape this operator exists to avoid. Expect: zero
    SortMergeJoin/ShuffledHashJoin over the shingle relation (the only
    join is the broadcast of per-doc rollups back onto the doc table),
    and at most 3 shuffle Exchanges in the final tree (hash window +
    doc window + the r15 fan_out_scan round-robin that spreads the
    single-split fixture scan across cores; AQE may coalesce)."""
    plan = _plan(spark, "dedup_substring")
    tree = _final_tree(plan)
    assert "SortMergeJoin" not in tree
    assert "ShuffledHashJoin" not in tree
    assert "BroadcastHashJoin" in tree  # rollup → doc table re-join
    shuffles = (
        tree.count("Exchange")
        - tree.count("BroadcastExchange")
        - tree.count("ReusedExchange")  # fan-out shuffle shared by both legs
    )
    assert shuffles <= 3, tree


def test_pagerank_no_cartesian_no_python(spark):
    """The PageRank loop is keyed joins + aggregates only: any
    CartesianProduct/BroadcastNestedLoopJoin would mean a rank update
    lost its equi-join key; Python must never appear (integer arithmetic
    is all JVM)."""
    plan = _plan(spark, "graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_sample_priority_single_exchange(spark):
    """Priority sampling is ONE per-group window (rank and τ share the
    sorted run): exactly one shuffle Exchange in the final tree, and the
    two Window nodes (rank, τ) sit over the same sorted partition with
    no second Sort between them."""
    plan = _plan(spark, "sample_priority")
    tree = _final_tree(plan)
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 2
    assert tree.count("Sort") == 1
    assert "Python" not in plan


def test_scan_binaryfile_length_only_prunes_content(spark):
    """binaryFile supports column pruning: a length-only projection must
    not read the content bytes (ReadSchema carries length/path only)."""
    import re

    from dicebox_sensorybatchprocessor_spark import all_queries
    from pyspark.sql import functions as F

    df = all_queries()["scan_binaryfile"].fn(spark, SF_ORACLE)
    # the registered query reads content (md5) — now project length only
    # through the same source and check the scan schema prunes content
    slim = df.sparkSession.read.format("binaryFile").load(
        # reuse the staged scratch dir via the registered query's cache
        _binfile_dir()
    ).select("length")
    slim.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        slim._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m and "content" not in m.group(1), plan


def _binfile_dir() -> str:
    from dicebox_sensorybatchprocessor_spark.utils import scratch_dir_cached

    path, fresh = scratch_dir_cached(
        "sbp_binfiles_", cache_key=f"binf|{SF_ORACLE}"
    )
    assert not fresh, "scan_binaryfile must have staged before this test"
    return path


def test_substring_rewrite_no_python_no_nested_loop(spark):
    """The scrub leg rewrites documents array-side: no Python worker
    anywhere, and the islands re-join is an equi-join on the id (a
    BroadcastNestedLoopJoin would mean the join key was lost and every
    doc scans every island list)."""
    plan = _plan(spark, "dedup_substring_rewrite")
    assert "Python" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_join_blas_route_plan_shape(spark):
    """sim_knn_join's broadcast-matrix route must never materialize the
    queries x corpus cross product in the plan: no CartesianProduct /
    BroadcastNestedLoopJoin nodes, the candidate relation enters via
    ArrowEvalPython-free mapInPandas, and the rerank joins nothing back
    (candidates carry their raw vectors), so no shuffle join either."""
    plan = _plan(spark, "sim_knn_join")
    tree = _final_tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "MapInPandas" in tree  # the BLAS candidate pass, not a crossJoin
    assert "SortMergeJoin" not in tree  # no rerank join back


def test_label_propagation_per_round_shape(spark):
    """graph_label_propagation's final plan reads the localCheckpoint'ed
    label relation (the iterative rounds are materialized once, the
    pagerank_fixed device), so the residual plan is the community-size
    join — which must stay free of cartesian nodes. The per-round
    join+agg+rank shape itself is pinned semantically by the unrolled
    oracle and the label_propagation unit tests."""
    plan = _plan(spark, "graph_label_propagation")
    tree = _final_tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_knn_join_ann_plan_shape(spark):
    """sim_knn_join_ann must never fall to knn_join's exact crossJoin
    regime: no CartesianProduct anywhere, the exact audit side enters
    via the BLAS candidate MapInPandas, and the only nested-loop join
    permitted is the single-row recall-claims broadcast (the
    token_budget crossJoin(broadcast(1-row)) device)."""
    plan = _plan(spark, "sim_knn_join_ann")
    tree = _final_tree(plan)
    assert "CartesianProduct" not in tree
    assert "MapInPandas" in tree  # exact side's BLAS candidate pass
    assert tree.count("BroadcastNestedLoopJoin") <= 1  # 1-row claims join


def test_semantic_decontaminate_plan_shape(spark):
    """decontaminate_semantic must be one corpus scan + one doc-keyed
    aggregate: candidates enter via the BLAS MapInPandas (never a
    cartesian against the bench set), the ref-side rerank join stays
    broadcast, and the per-row max is an aggregate — no Window, no
    sort, no corpus self-join."""
    plan = _plan(spark, "decontaminate_semantic")
    tree = _final_tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "MapInPandas" in tree
    assert "SortMergeJoin" not in tree
    assert "Window" not in tree
    assert "HashAggregate" in tree

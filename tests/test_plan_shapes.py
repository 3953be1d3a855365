"""Plan-shape regression tests — pin the 100 TB scale claims.

PERF.md's plan audit (broadcast dims, pushed parquet filters, top-k
via TakeOrderedAndProject) was prose; these tests make the suite fail
if a future change silently de-broadcasts a dim join, blocks filter
pushdown with an opaque projection, or turns a top-k into a global
sort. Executed plans are inspected AFTER running the query so AQE's
final strategy (not the static guess) is what's asserted.
"""

import re

import pytest

from etlp_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


#: Joins whose big side must NEVER sort-merge at this scale: the dim
#: side is broadcast (explicitly or by AQE) so the fact table is
#: joined without a shuffle of its own.
BROADCAST_ONLY = [
    "j2_region_revenue",
    "q03_shipping_priority",
    "x38_incremental_dedup",
    "x39_funnel_conversion",
    "q19_disjunctive_revenue",
    # round-4 additions whose joins must stay broadcast:
    "x49_vocab_coverage",       # top-1000 vocab → token stream
    "x53_bigram_pmi",           # unigram/total tables → bigram counts
    "x55_daily_anomaly_zscore", # per-type stats → daily counts
    "x56_dup_rate_by_source",   # dup-doc flags → documents
]

#: Scans whose predicate must reach the parquet reader (PushedFilters
#: with a real comparison, not just IsNotNull) — the difference
#: between reading a row group and skipping it at 100 TB.
PUSHDOWN = {
    "q01_pricing_summary": r"LessThanOrEqual\(l_shipdate",
    "t2_filter_shipped": r"EqualTo\(l_returnflag,R\)",
    "q19_disjunctive_revenue": r"Or\(.*l_quantity",
    "q03_shipping_priority": r"EqualTo\(c_mktsegment,BUILDING\)",
    "j11_lateral_topk": r"EqualTo\(c_mktsegment,MACHINERY\)",
}

#: Top-k queries that must plan TakeOrderedAndProject (per-partition
#: heap + single reduce) instead of a global sort + limit.
TOP_K = [
    "q03_shipping_priority",
    "w7_session_paths",
    "x57_uniform_k_sample",
    "x64_corpus_drift",  # global top-200 vocab must be a heap, not a sort
]


@pytest.mark.parametrize("name", BROADCAST_ONLY)
def test_no_sort_merge_join(spark, name):
    plan = _executed_plan(QUERIES[name].fn(spark, SF))
    assert "SortMergeJoin" not in plan, (
        f"{name} de-broadcasted a dim join:\n{plan[:2000]}"
    )
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"


@pytest.mark.parametrize("name", sorted(PUSHDOWN))
def test_parquet_filter_pushdown(spark, name):
    plan = _executed_plan(QUERIES[name].fn(spark, SF))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*", plan))
    assert re.search(PUSHDOWN[name], pushed), (
        f"{name}: predicate no longer reaches the parquet scan; "
        f"pushed = {pushed[:500]}"
    )


@pytest.mark.parametrize("name", TOP_K)
def test_top_k_plans_take_ordered(spark, name):
    plan = _executed_plan(QUERIES[name].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, (
        f"{name} plans a global sort instead of top-k:\n{plan[:2000]}"
    )


def test_lateral_topk_decorrelates(spark):
    """j11's correlated LATERAL ... ORDER BY ... LIMIT 2 must be
    decorrelated by Catalyst into a map-side partial top-k
    (WindowGroupLimit) + hash join — never a nested-loop that
    re-scans orders once per customer."""
    plan = _executed_plan(QUERIES["j11_lateral_topk"].fn(spark, SF))
    assert "WindowGroupLimit" in plan, (
        f"lateral top-k lost its partial group-limit:\n{plan[:2000]}"
    )
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"lateral join fell back to {bad}:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan


def test_doc_chunks_is_scan_stage_only(spark):
    """x60 chunking must stay fused with the scan: the only exchange
    allowed is the explicit fan-out repartition (round-robin); a
    hash-partition exchange would mean an accidental shuffle."""
    plan = _executed_plan(QUERIES["x60_doc_chunks"].fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan, (
        f"x60 grew a hash shuffle:\n{plan[:2000]}"
    )


def test_asof_nearest_single_shuffle(spark):
    """j12's nearest as-of must run BOTH directional window passes
    over one key exchange — never a second shuffle or a join."""
    plan = _executed_plan(QUERIES["j12_asof_nearest"].fn(spark, SF))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"j12 expected exactly 1 hash exchange, saw {n}:\n{plan[:2000]}"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_range_frame_single_shuffle(spark):
    """w11's RANGE-frame window must cost exactly one hash exchange
    (on user_id) — the frame itself is a sliding pointer over the
    sorted run, not a second shuffle or a self-join."""
    plan = _executed_plan(QUERIES["w11_range_frame_rolling"].fn(spark, SF))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"w11 expected exactly 1 hash exchange, saw {n}:\n{plan[:2000]}"
    assert "Join" not in plan, "w11 must not plan any join"


def test_quality_tertiles_no_global_sort(spark):
    """x47's tertile thresholds come from a histogram over the
    |distinct scores| value set — never a corpus-wide percentile sort.
    A range-partitioned exchange is the signature of the global sort
    this query exists to avoid."""
    plan = _executed_plan(QUERIES["x47_quality_tertile_buckets"].fn(spark, SF))
    assert "rangepartitioning" not in plan, (
        f"x47 grew a corpus-wide sort:\n{plan[:2000]}"
    )


def test_chunk_dedup_rate_no_join_back(spark):
    """x68 carries document metadata THROUGH the chunker instead of
    joining chunks back to documents — the plan must contain no join
    at all (a join-back would shuffle the full chunk set at 100 TB)."""
    plan = _executed_plan(QUERIES["x68_chunk_dedup_rate"].fn(spark, SF))
    assert "Join" not in plan, f"x68 reintroduced a join-back:\n{plan[:2000]}"


def test_countmin_sketch_shapes(spark):
    """x69: exact top-20 must be a heap (TakeOrderedAndProject), and
    the 256-cell sketch must BROADCAST onto it — a sort-merge join
    against a constant-size sketch would be absurd at scale."""
    plan = _executed_plan(QUERIES["x69_countmin_heavyhitters"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_semdedup_no_cartesian(spark):
    """x76: the pairwise pass must stay INSIDE cells (equi-join on
    cell) — a cartesian/nested-loop pair expansion is the quadratic
    blowup the clustering exists to avoid. (The tiny broadcast-nn
    cross joins are fine; a CartesianProduct over vectors is not.)"""
    plan = _executed_plan(QUERIES["x76_semdedup_prune"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]


def test_token_gini_joinless(spark):
    """x84: Gini comes from the closed-form rank identity — one window
    over the |sources|-row aggregate, zero joins. The r5 form held an
    all-pairs crossJoin on the aggregate (|sources|²); this pin keeps
    the operator safe for unbounded source cardinality."""
    plan = _executed_plan(QUERIES["x84_token_gini"].fn(spark, SF))
    assert "Join" not in plan, f"x84 regrew a join:\n{plan[:2000]}"


def test_ngram_novelty_no_join(spark):
    """x78: first-occurrence flagging is a WINDOW over the shingle
    partition — no join at all. The aggregate-then-join-back form let
    Catalyst broadcast a corpus-scaled firsts table (superlinear at
    30× in the scale study); this pin keeps the join from coming
    back."""
    plan = _executed_plan(QUERIES["x78_ngram_novelty"].fn(spark, SF))
    assert "Join" not in plan, plan[:2000]


def test_repeated_substring_no_cartesian_fp_shuffle_only(spark):
    """x90: the memorization audit must never pair-expand — the plan
    is scan-stage gram explode, a fingerprint hash-aggregate, and one
    fingerprint equi-join back. Any CartesianProduct (or a gram-text
    sort-merge) would be the quadratic/byte-heavy shape the
    fingerprint design avoids."""
    plan = _executed_plan(QUERIES["x90_repeated_substring_spans"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]


def test_matryoshka_recall_broadcasts_queries(spark):
    """x91: both ranking passes (full-dim and prefix-dim) must score
    via the broadcast-queries pattern — the query side broadcast into
    a nested-loop cross, so the candidate corpus is scored without
    shuffling for the pair expansion. Since opt r17 both |q|×10
    ranking frames are eagerly pinned (each feeds a count AND the
    overlap join — unpinned, every consumer re-scored the corpus), so
    the scoring subtree executes in the pin jobs and the FINAL plan
    must read only the pinned leaves: assert the broadcast pattern on
    the scoring unit itself (the same cosine_topk call x91 pins), and
    that the final plan re-scans nothing."""
    from etlp_spark.io import load_table
    from etlp_spark.queries import _matryoshka_rank_frames

    emb = load_table(spark, SF, "embeddings")
    # the query's ACTUAL pinned prefix (shared helper, r17 advice 2)
    exact_u, pref_u = _matryoshka_rank_frames(emb)
    for frame in (exact_u, pref_u):
        score_plan = _executed_plan(frame)
        assert score_plan.count("BroadcastNestedLoopJoin") >= 1, score_plan[:2000]
        assert "CartesianProduct" not in score_plan, score_plan[:2000]
    plan = _executed_plan(QUERIES["x91_matryoshka_recall"].fn(spark, SF))
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "Scan parquet" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_triangles_top20_is_take_ordered(spark):
    """x92: the top-20 must reduce via TakeOrderedAndProject (the
    final 20-row rank window is fine); a global Sort over the
    per-user frame, or a CartesianProduct in the wedge joins, is the
    last-reducer shape the orientation exists to kill. The
    multi-consumer frames (pairs -> degree+orientation, ori ->
    e1/e2/e3) are localCheckpoint-pinned, so the executed plan reads
    checkpoint RDD scans instead of re-deriving the edge list per
    consumer — single evaluation is structural (r8 verdict #2)."""
    plan = _executed_plan(QUERIES["x92_cooccurrence_triangles"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # every wedge-side input is a checkpoint scan: the corpus-side
    # aggregation pipeline (collect_set over presence buckets) must
    # appear NOWHERE in the final plan
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "collect_set" not in plan, plan[:2000]


def test_ivf_adc_no_cartesian_and_broadcast_probe(spark):
    """x94: the ADC pass joins probed queries to the coded corpus on
    the CELL equi-key with the query side broadcast — a
    CartesianProduct over the corpus (or a corpus-side sort-merge for
    the probe join) would defeat the coarse quantizer."""
    plan = _executed_plan(QUERIES["x94_ivf_adc_search"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_pq_adc_broadcasts_query_tables(spark):
    """x93: the ADC pass must broadcast the query side (with its
    lookup tables) into the pair expansion — the coded corpus never
    shuffles for it; per-pair work is array lookups, so any
    SortMergeJoin against the coded corpus means a regression."""
    plan = _executed_plan(QUERIES["x93_pq_adc_topk"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_cdc_apply_no_cartesian_single_feed_window(spark):
    """x96: the change feed resolves last-writer-wins through ONE
    keyed window pass and applies via a key anti-join — no cartesian
    anywhere, and the feed window must not multiply into several
    key exchanges."""
    plan = _executed_plan(QUERIES["x96_cdc_apply_latest"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    # exactly one join: the key anti-join applying tombstones (AQE
    # broadcasts the resolved-feed key set); a SortMergeJoin or a
    # second join means the apply grew a corpus-sized shuffle
    assert plan.count("Join") == 1, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]


def test_hll_registers_no_join_in_sketch_path(spark):
    """x97: the sketch pipeline (register extraction -> estimate) is
    pure aggregation — the ONLY join in the query is the final
    est-vs-exact audit join on the tiny per-source frame, which must
    be broadcast, never sort-merge."""
    plan = _executed_plan(QUERIES["x97_hll_registers"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, f"x97 audit join de-broadcast:\n{plan[:2000]}"


def test_source_overlap_no_cartesian_and_broadcast_dims(spark):
    """x98: grams must NEVER pair-expand — the set-frequency closed
    form exists to keep the corpus side in one hash-aggregate. The
    pairs x sets work is on two constant-size relations via broadcast
    nested loop; a CartesianProduct or a gram-side SortMergeJoin
    would be the quadratic shape the design eliminates. Since r9 the
    source dimension derives from the localCheckpoint-pinned
    set-frequency table — the final plan must read checkpoint scans
    and contain NO trace of the corpus aggregation (which also proves
    there is no second corpus scan feeding a source list)."""
    plan = _executed_plan(QUERIES["x98_source_overlap_matrix"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "collect_set" not in plan, plan[:2000]


def test_cuped_two_level_aggregation_only(spark):
    """x99: CUPED is two aggregations (per-user, then one moment row)
    — no join anywhere; a join appearing here would mean the moments
    stopped being a single all-reduce."""
    plan = _executed_plan(QUERIES["x99_cuped_adjusted_delta"].fn(spark, SF))
    assert "Join" not in plan, f"x99 regrew a join:\n{plan[:2000]}"


def test_ddsketch_sketch_path_no_sort(spark):
    """x103 (the r9 sketch-only headline): one count aggregate over
    bounded log-buckets + a window over those buckets. NO corpus
    window may appear — the plan's only window/sort input is the
    post-aggregate bucket table, so there must be no row_number
    anywhere (the audit's rank lives in x103b now), and the only
    join is the broadcast qs explode."""
    plan = _executed_plan(QUERIES["x103_ddsketch_quantiles"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "row_number" not in plan, "corpus rank leaked into the sketch path:\n" + plan[:2000]


def test_ddsketch_audited_keeps_single_corpus_sort(spark):
    """x103b (the audit form): the exact-rank column is ALLOWED its
    one per-key corpus sort — but only one, and the est-vs-exact join
    on the tiny per-(type, q) frames must broadcast."""
    plan = _executed_plan(QUERIES["x103b_ddsketch_audited"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_bloom_prejoin_probe_is_scan_stage(spark):
    """j13: the Bloom probe must be a scan-stage Filter on orders
    (the packed words are a folded literal — shiftleft bit tests in
    the plan) and the exactness join must be broadcast, never
    sort-merge. If the probe disappears the query silently degrades
    to a plain semi-join (still correct — the pin guards the
    TECHNIQUE, which is the point of the query)."""
    plan = _executed_plan(QUERIES["j13_bloom_prejoin"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "shiftleft" in plan, "bloom probe filter missing:\n" + plan[:2000]


def test_k_anonymity_pure_aggregation_cascade(spark):
    """x112: the privacy audit is three strictly-shrinking hash
    aggregates (distinct triple -> cell -> per-type) — no join may
    ever appear, and every aggregate must be hash-based (an
    ObjectHashAggregate/SortAggregate here would mean the distinct
    count stopped being map-side combinable)."""
    plan = _executed_plan(QUERIES["x112_k_anonymity"].fn(spark, SF))
    assert "Join" not in plan, f"x112 grew a join:\n{plan[:2000]}"
    assert "SortAggregate" not in plan, plan[:2000]


def test_power_iteration_broadcasts_v_and_checkpoints(spark):
    """x113: the matvec never shuffles vectors — the 64-row v1 is
    localCheckpoint-pinned (multi-consumer: pass-two join + output)
    and broadcast into the posexplode stream, so the executed plan
    reads a checkpoint scan and contains no corpus-side sort-merge
    for the dim joins. The only allowed SortMergeJoin is the
    vec_id-keyed y2 join (row-scaled on BOTH sides — the one join
    that legitimately shuffles at 100 TB)."""
    plan = _executed_plan(QUERIES["x113_power_iteration"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, "v1 checkpoint pin lost:\n" + plan[:2000]
    assert "BroadcastHashJoin" in plan, "v1 de-broadcast:\n" + plan[:2000]
    assert plan.count("SortMergeJoin") <= 1, (
        "a dim-side join de-broadcast into sort-merge:\n" + plan[:2000]
    )


def test_prefix_filter_join_no_cartesian_no_nested_loop(spark):
    """x114: candidate generation must stay an equi-join on PREFIX
    tokens — a CartesianProduct or BroadcastNestedLoopJoin anywhere
    means the pair space stopped being prefix-bounded and the
    quadratic shape the filter exists to kill is back."""
    plan = _executed_plan(QUERIES["x114_prefix_filter_jaccard"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_kneser_ney_checkpoints_bigram_counts(spark):
    """x115: the bigram count table feeds FOUR consumers (ctx, lft,
    bt, score join) — it must be localCheckpoint-pinned (checkpoint
    scans in the executed plan) so the corpus-sized bigram aggregate
    evaluates once, and nothing may pair-expand."""
    plan = _executed_plan(QUERIES["x115_kneser_ney_bigram"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, "tf checkpoint pin lost:\n" + plan[:2000]


def test_poisson_bootstrap_constant_size_shuffle(spark):
    """x116: the x32 replicate expansion must collapse MAP-SIDE — the
    shuffle carries |flags| x 32 partial sums, so no sort-merge join
    and no corpus-side sort may appear; the pt/ci join on 3-row
    frames must broadcast. A SortMergeJoin here would mean the
    replicate means stopped being a partial aggregate."""
    plan = _executed_plan(QUERIES["x116_poisson_bootstrap"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_hll_set_algebra_post_scan_is_constant_size(spark):
    """x117: ONE scan extracts registers; the register table is
    localCheckpoint-pinned (4 consumers) and every join after it runs
    on <= 256 x |sources| rows — broadcast or nested-loop on tiny
    frames, never a sort-merge (which would mean a corpus-sized
    relation leaked past the sketch boundary)."""
    plan = _executed_plan(QUERIES["x117_hll_set_algebra"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, "regs checkpoint pin lost:\n" + plan[:2000]


def test_postings_single_corpus_exchange_no_joins(spark):
    """x118: join-free, and the corpus crosses the wire ONCE — the
    term-keyed window exchange doubles as the dedup (gap > 0). The
    only other hashpartitioning is the |vocab|-row df-bucket rollup.
    A third exchange means someone reintroduced the distinct()."""
    plan = _executed_plan(QUERIES["x118_postings_delta_bits"].fn(spark, SF))
    assert "Join" not in plan, f"x118 grew a join:\n{plan[:2000]}"
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 2, f"expected <=2 hash exchanges, saw {n_ex}:\n{plan[:3000]}"


def test_l_diversity_aggregation_and_rank_only(spark):
    """x119: a strictly-shrinking aggregate cascade with one rank
    window over cell-sized groups — no join may ever appear."""
    plan = _executed_plan(QUERIES["x119_l_diversity"].fn(spark, SF))
    assert "Join" not in plan, f"x119 grew a join:\n{plan[:2000]}"


def test_cusum_single_corpus_aggregate_broadcast_mu(spark):
    """x120: the (type, day) count is the only corpus-sized work; the
    per-type totals join back by BROADCAST and all windows run over
    the |types| x |days| series. A sort-merge join would mean the
    constant-size series analysis regressed to corpus scale."""
    plan = _executed_plan(QUERIES["x120_cusum_drift"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, "mu join de-broadcast:\n" + plan[:2000]


def test_ams_f2_constant_sketch_no_smj(spark):
    """x121: the sketch path shuffles |types| x 64 signed cells and
    the est-vs-exact join runs on 7-row frames — broadcast, never
    sort-merge (an SMJ would mean a corpus-sized relation reached the
    join)."""
    plan = _executed_plan(QUERIES["x121_ams_f2"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_kmeanspp_two_scans_broadcast_phi(spark):
    """x122: centers are literals (scan-stage distance fold), phi is
    ONE all-reduce row joined back by broadcast — no shuffle join of
    any kind may appear. Two corpus scans are the algorithm's lower
    bound; a SortMergeJoin would mean assignments started shuffling."""
    plan = _executed_plan(QUERIES["x122_kmeanspp_oversample"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "phi join lost its broadcast:\n" + plan[:2000]
    )


def test_feature_hashing_join_free(spark):
    """x123: hash featurization is two aggregates (doc x index, then
    per-doc) — join-free by construction."""
    plan = _executed_plan(QUERIES["x123_feature_hashing"].fn(spark, SF))
    assert "Join" not in plan, f"x123 grew a join:\n{plan[:2000]}"


def test_simpson_one_scan_shape_broadcast_pooled(spark):
    """x124: per-stratum and pooled rates are conditional-sum
    aggregates; the single pooled row joins back by broadcast — no
    sort-merge join, no cartesian beyond the 1-row broadcast."""
    plan = _executed_plan(QUERIES["x124_simpson_reversal"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_benford_join_free_one_aggregate(spark):
    """x125: scan-stage digit extraction + one (priority, digit)
    aggregate + a window over 9-row groups — join-free."""
    plan = _executed_plan(QUERIES["x125_benford_audit"].fn(spark, SF))
    assert "Join" not in plan, f"x125 grew a join:\n{plan[:2000]}"


def test_neyman_broadcast_means_and_tiny_windows(spark):
    """x126: the means join back into the variance pass by BROADCAST
    (per-stratum frame), and no corpus-sized sort-merge join may
    appear; everything after the two aggregates runs on |strata|
    rows. Since opt r17 the |strata| weight table is eagerly pinned
    (tw/base/leftover/rank each re-ran BOTH corpus aggregates
    unpinned), so the two-aggregate prefix executes in the pin job:
    assert the broadcast shape on that prefix, and that the final
    plan reads only the pinned leaf."""
    from etlp_spark.io import load_table
    from etlp_spark.queries import _neyman_stratum_dev

    docs = load_table(spark, SF, "documents")
    # the query's ACTUAL pinned prefix (shared helper, r17 advice 2)
    dev = _neyman_stratum_dev(docs)
    prefix_plan = _executed_plan(dev)
    assert "SortMergeJoin" not in prefix_plan, prefix_plan[:2000]
    assert "BroadcastHashJoin" in prefix_plan, (
        "means join de-broadcast:\n" + prefix_plan[:2000]
    )
    plan = _executed_plan(QUERIES["x126_neyman_allocation"].fn(spark, SF))
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "Scan parquet" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_clustering_coefficient_checkpointed_oriented(spark):
    """x128: same discipline as x92 — pairs/deg/ori are
    localCheckpoint-pinned (checkpoint scans in the plan) and the
    wedge joins stay equi-joins; no cartesian anywhere."""
    plan = _executed_plan(QUERIES["x128_clustering_coefficient"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, "checkpoint pins lost:\n" + plan[:2000]


def test_fellegi_sunter_blocked_equijoin_only(spark):
    """x129: candidate generation must stay a (nation, segment)
    equi-join over capped blocks — a CartesianProduct or
    BroadcastNestedLoopJoin means blocking stopped bounding the pair
    space (the x109/x114 rule)."""
    plan = _executed_plan(QUERIES["x129_fellegi_sunter"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_welch_single_moment_aggregate(spark):
    """x130: one conditional-moment aggregate, join-free; the t
    statistic is arithmetic over |strata| rows."""
    plan = _executed_plan(QUERIES["x130_welch_ttest"].fn(spark, SF))
    assert "Join" not in plan, f"x130 grew a join:\n{plan[:2000]}"


def test_power_mde_single_aggregate(spark):
    """x131: one conditional count aggregate, join-free."""
    plan = _executed_plan(QUERIES["x131_power_mde"].fn(spark, SF))
    assert "Join" not in plan, f"x131 grew a join:\n{plan[:2000]}"


def test_rendezvous_scan_stage_single_aggregate(spark):
    """x132: 33 hash weights at scan stage, one 16-group aggregate,
    the total joined back by broadcast — join-free except that 1-row
    broadcast; no sort-merge anywhere."""
    plan = _executed_plan(QUERIES["x132_rendezvous_sharding"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_ks_single_global_window_then_reduce(spark):
    """x133: ONE global-order cumulative window over the per-length
    HISTOGRAM (only the order over distinct x-values is inherent to
    KS — see test_ks_window_input_is_aggregated for the input pin)
    and a 1-row reduce; no joins beyond the broadcast of the 1-row
    size frame."""
    plan = _executed_plan(QUERIES["x133_ks_test"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_dp_release_aggregation_only(spark):
    """x134: cell counts -> scan-stage noise -> per-type rollup;
    join-free."""
    plan = _executed_plan(QUERIES["x134_dp_noised_release"].fn(spark, SF))
    assert "Join" not in plan, f"x134 grew a join:\n{plan[:2000]}"


def test_sequence_perplexity_broadcast_model_tables(spark):
    """x135: the eval join runs against |states|^2-row model tables —
    broadcast, never sort-merge (an SMJ would mean the model tables
    stopped being constant-size)."""
    plan = _executed_plan(QUERIES["x135_sequence_perplexity"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_diff_in_diff_single_moment_aggregate(spark):
    """x136: one conditional 8-moment aggregate, join-free."""
    plan = _executed_plan(QUERIES["x136_diff_in_diff"].fn(spark, SF))
    assert "Join" not in plan, f"x136 grew a join:\n{plan[:2000]}"


def test_ks_window_input_is_aggregated(spark):
    """x133: the single-partition KS cumulative window must consume
    the per-length HISTOGRAM, not corpus rows — the r9 form funneled
    every document of both sources through one window task. The pin:
    a keys=[n_chars] hash aggregate sits BELOW the window (textually
    after it in the top-down plan print), and no aggregate above the
    window re-groups cumulative counts (the old tie-group max)."""
    plan = _executed_plan(QUERIES["x133_ks_test"].fn(spark, SF))
    wi = plan.index("Window")
    assert "HashAggregate(keys=[n_chars" in plan[wi:], (
        f"x133's window no longer consumes the length histogram:\n{plan[:3000]}"
    )
    assert "max(c1" not in plan, (
        f"x133 regrew the post-window tie-group max (corpus-row window):\n{plan[:3000]}"
    )


def test_prefix_filter_length_prune_before_verify(spark):
    """x114: the PPJoin size-ratio filter (5*min >= 4*max) must prune
    candidate pairs at GENERATION — inside the prefix self-join's
    condition — so pruned pairs never reach the distinct or the
    shingle-array verification joins."""
    plan = _executed_plan(QUERIES["x114_prefix_filter_jaccard"].fn(spark, SF))
    assert "least" in plan and "greatest" in plan, (
        f"x114 lost the PPJoin length filter:\n{plan[:3000]}"
    )
    # the filter must sit below the candidate-dedup aggregate: find a
    # join line that carries the size-ratio condition
    joins = [ln for ln in plan.splitlines()
             if "Join" in ln and "least" in ln and "greatest" in ln]
    assert joins, (
        "x114's length filter is not in the candidate join condition "
        f"(post-join filter would expand pairs first):\n{plan[:3000]}"
    )
    # r11: the POSITIONAL filter (1 + min(n_a - rk_a, n_b - rk_b)
    # must reach ceil(4(n_a+n_b)/9)) rides the same join condition —
    # it references the prefix RANK columns, which the length filter
    # alone never does
    assert any("rk#" in ln for ln in joins), (
        "x114's positional filter (prefix-rank bound) is not in the "
        f"candidate join condition:\n{plan[:3000]}"
    )


def test_mann_whitney_window_over_histogram(spark):
    """x140: the rank window must consume the per-length histogram
    (x133's compact-histogram discipline — midranks need only
    distinct values), and the whole statistic is join-free."""
    plan = _executed_plan(QUERIES["x140_mann_whitney"].fn(spark, SF))
    wi = plan.index("Window")
    assert "HashAggregate(keys=[n_chars" in plan[wi:], (
        f"x140's window no longer consumes the length histogram:\n{plan[:3000]}"
    )
    assert "Join" not in plan, f"x140 grew a join:\n{plan[:3000]}"


def test_index_staleness_single_scan_no_join(spark):
    """x141: both distortion folds (stale + fresh index, centroids as
    literals) evaluate in ONE scan into a 1-row aggregate — no join,
    no cartesian, no window."""
    plan = _executed_plan(QUERIES["x141_ivf_index_staleness"].fn(spark, SF))
    assert "Join" not in plan, f"x141 grew a join:\n{plan[:3000]}"
    assert "CartesianProduct" not in plan, plan[:3000]
    # the only exchange is the 1-row final-aggregate gather — a hash
    # exchange would mean a shuffle crept into the distortion scan
    assert "Exchange hashpartitioning" not in plan, (
        f"x141 grew a shuffle:\n{plan[:3000]}"
    )


def test_conformal_window_over_residual_histogram(spark):
    """x142: the order-statistic window must consume the per-type
    DISTINCT-residual histogram (x133's discipline), and every join
    is a broadcast of a |types|-row frame — no sort-merge anywhere."""
    plan = _executed_plan(QUERIES["x142_conformal_coverage"].fn(spark, SF))
    wi = plan.index("Window")
    assert "HashAggregate(keys=[event_type" in plan[wi:], (
        f"x142's window no longer consumes the residual histogram:\n{plan[:3000]}"
    )
    assert "SortMergeJoin" not in plan, plan[:3000]


#: Producer → parser chains over per-payload kernels: each must run as
#: ONE Python map node. Spark gives every MapInPandas node its own
#: Python worker per task and its own Arrow round trip, so k chained
#: kernels hold k workers and cross the boundary 2k times.
ONE_PYTHON_PASS = [
    "x143_mp3_metadata",
    "x144_mp3_vbr_audit",
    "x146_mp4_metadata",
    "x147_id3_tags",
    "x148_jpeg_exif",
    "x149_riff_webp",
    "x150_png_text",
    "x151_warc_wet",
    "x152_flac_ogg",
    "x153_orientation_dedup",
    "x154_warc_ingest_quality",
    "x155_html_extract",
]


@pytest.mark.parametrize("name", ONE_PYTHON_PASS)
def test_payload_chain_is_one_python_map(spark, name):
    from tests.test_plan_lint import _node_name, _walk

    df = QUERIES[name].fn(spark, SF)
    df.collect()  # finalises the frame's own adaptive plan
    maps = [
        _node_name(n)
        for n in _walk(df._jdf.queryExecution().executedPlan())
        if "MapIn" in _node_name(n)
    ]
    assert len(maps) == 1, (
        f"{name} runs {len(maps)} Python map nodes {maps}, expected one"
    )

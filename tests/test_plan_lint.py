"""Fleet-wide plan linter: global physical-plan invariants over EVERY
declared query, read from the query's executed, final plan.

The per-query pins in test_plan_shapes.py guard specific known-risky
shapes; this linter guards the whole fleet against the plan
pathologies that sink a 100 TB run no matter which query they appear
in:

- ``CartesianProduct`` — a non-broadcast quadratic pair expansion.
  Broadcast-literal cross joins plan as BroadcastNestedLoopJoin (the
  build side fit under the broadcast threshold by construction);
  CartesianProduct means BOTH sides were corpus-sized. Zero today.
- ``BatchEvalPython`` — a row-at-a-time Python UDF in a query path
  (the repo's kernels are JVM expressions or Arrow-batched
  mapInPandas, which plans as its own node). Zero today.
- ``rangepartitioning`` — a corpus-wide global sort (top-k must plan
  TakeOrderedAndProject; percentile-ish work runs on compact
  histograms). Zero today at the lint SF.
- an unbounded window fed by ``Exchange SinglePartition`` (below).

The fleet-wide check runs inside ``test_query_matches_oracle``
(tests/test_queries_oracle.py), one case per query, on the same
DataFrame the oracle comparison collects. That collect finalises the
frame's own adaptive plan, so the lint reads
``AdaptiveSparkPlan isFinalPlan=true`` (asserted there): the
``FORBIDDEN`` names are matched against its tree string, which holds
the final plan and, where AQE changed it, the initial plan too; the
window walk descends the final plan's query stages. This module keeps
the lists, the window detector and the detector's own test.
"""

SF = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython", "rangepartitioning")

#: No exemptions today. If a future query legitimately needs one of
#: the forbidden shapes (e.g. a documented exact-spec twin whose
#: semantics ARE a global sort), whitelist it here as
#: {query_name: {node, ...}} with a comment saying why.
ALLOWED: dict[str, set[str]] = {}

# ---------------------------------------------------------------------------
# SinglePartition-fed WindowExec detection (r15 verdict item 2): an
# UNPARTITIONED window moves its whole input to ONE partition via an
# `Exchange SinglePartition`, which the string greps above cannot see
# (it is not `rangepartitioning`). That shape is fine when the input
# is bounded by construction (a top-k limit, a global aggregate, a
# fixed-cardinality histogram) and a 100 TB killer otherwise. The
# walk below inspects the executed plan TREE: for each WindowExec it
# descends toward its exchange, PRUNING at nodes that bound row
# count structurally — GlobalLimit / CollectLimit /
# TakeOrderedAndProject and aggregates with EMPTY grouping keys —
# and flags the window only if an un-bounded path reaches a
# SinglePartition shuffle. Bounded-by-construction inputs the walk
# CANNOT prove (e.g. an aggregate whose grouping keys have fixed
# domain) get a documented exemption below.

_BOUNDING = {"GlobalLimitExec", "CollectLimitExec",
             "TakeOrderedAndProjectExec"}


def _node_name(n) -> str:
    return n.getClass().getSimpleName()


def _children(n):
    nm = _node_name(n)
    if nm == "AdaptiveSparkPlanExec":
        return [n.executedPlan()]
    if nm.endswith("QueryStageExec"):
        return [n.plan()]
    if nm == "ReusedExchangeExec":
        return [n.child()]
    ch = n.children()
    return [ch.apply(i) for i in range(ch.length())]


def _walk(n):
    yield n
    for c in _children(n):
        yield from _walk(c)


def _agg_keys_empty(n) -> bool:
    try:
        return n.groupingExpressions().isEmpty()
    except Exception:
        return False


def unbounded_single_partition_windows(root) -> list[str]:
    """Names (simpleString prefixes) of WindowExec nodes fed by an
    Exchange SinglePartition through no bounding node. Run on the
    EXECUTED plan so AQE's final strategy is what's linted."""
    hits: list[str] = []
    for n in _walk(root):
        if _node_name(n) != "WindowExec":
            continue
        stack = list(_children(n))
        while stack:
            c = stack.pop()
            nm = _node_name(c)
            if nm in _BOUNDING:
                continue  # row count capped: anything deeper is fine
            if "Aggregate" in nm and _agg_keys_empty(c):
                continue  # global aggregate: exactly one row
            if nm == "ShuffleExchangeExec":
                # stop at any exchange: deeper stages have their own
                # windows and are linted separately
                if "SinglePartition" in str(c.outputPartitioning()):
                    hits.append(str(n.simpleString(80))[:100])
                continue
            stack.extend(_children(c))
    return hits

#: Bounded-by-construction SinglePartition windows the structural
#: walk cannot prove. Every entry must say WHY the window's input
#: cannot grow with the corpus. Anything not listed here fails the
#: lint — including every future query. (w7_session_paths and
#: x53_bigram_pmi were FIXED to the orderBy().limit(k)-then-rank
#: idiom rather than exempted — their window inputs, distinct
#: session paths and scored bigram pairs, DO grow with the corpus.)
WINDOW_SINGLE_PARTITION_ALLOWED: dict[str, str] = {
    "x84_token_gini":
        "rank window runs on the per-SOURCE token aggregate — "
        "|sources| rows (mixture cardinality, dozens), never corpus",
    "x47_quality_tertile_buckets":
        "cumulative window over the |distinct 6-dp-rounded scores| "
        "histogram — bounded by the rounding grid, not the corpus",
    "g11_quality_deciles":
        "exact-ntile needs a global order BY SPEC; docstring names "
        "the 100 TB swap (g5 approx-percentile cutoffs + broadcast "
        "bucket join) — this is the exact-spec twin it is tuned on",
    "x106_mixture_allocation":
        "waterfilling rounds are windows over the per-source "
        "allocation table — |sources| rows, constant per round",
    "x126_neyman_allocation":
        "Hamilton largest-remainder rank runs over |strata| = "
        "|sources| rows after the stratum aggregates",
    "x133_ks_test":
        "KS CDFs step once per DISTINCT length — the cumulative "
        "window runs on the length histogram (domain-bounded), "
        "never document rows",
    "x140_mann_whitney":
        "midranks are computed over the same per-length histogram "
        "as x133 — |distinct lengths| rows, domain-bounded",
}


def test_single_partition_window_detector_fires(spark):
    """The detector is live: a deliberately-regressed plan — a global
    row_number over an UNBOUNDED corpus frame (exactly the w7/x53
    shape this round fixed) — is flagged, while the repaired idiom
    (orderBy().limit(k) first, then rank the k-row frame) and a
    partitioned window both pass."""
    from pyspark.sql import Window, functions as F

    from etlp_spark.io import load_table

    ev = load_table(spark, SF, "events")
    counted = ev.groupBy("event_type").agg(F.count("*").alias("n"))

    # NOTE: `row_number().over(orderBy).where(rnk <= k)` is ALREADY
    # rescued by Catalyst's LimitPushDownThroughWindow (the plan gets
    # a TakeOrderedAndProject below the window — w7/x53 were never
    # slow at the lint SF for that reason); the unbounded shape the
    # detector exists for is a global window whose output is NOT
    # reducible to a limit — every row ranked, or a non-top-k filter.
    bad = counted.select(
        "event_type", "n",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), "event_type")
        ).alias("rnk"),
    ).where(F.col("rnk") % 2 == 0)
    bad.write.format("noop").mode("overwrite").save()
    assert unbounded_single_partition_windows(
        bad._jdf.queryExecution().executedPlan()
    ), "regressed fixture must be flagged"

    good = counted.orderBy(F.col("n").desc(), "event_type").limit(5)
    good = good.select(
        "event_type", "n",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), "event_type")
        ).alias("rnk"),
    )
    good.write.format("noop").mode("overwrite").save()
    assert not unbounded_single_partition_windows(
        good._jdf.queryExecution().executedPlan()
    ), "post-limit rank is bounded by construction"

    part = ev.select(
        "user_id",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts")
        ).alias("seq"),
    )
    part.write.format("noop").mode("overwrite").save()
    assert not unbounded_single_partition_windows(
        part._jdf.queryExecution().executedPlan()
    ), "partitioned windows are not single-partition"

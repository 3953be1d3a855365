"""Graph operators over co-occurrence edge lists (engine-added — the
reference has no graph surface; joins r1 reachability / r2 PageRank /
x92 triangles / x100 k-core as the §2.2 graph family's library home).

Scale design (the themes the query twins plan-pin):

- **Edge construction** (``cooccurrence_edges``): presence dedup →
  bucket-capped JVM-side pair generation from each bucket's sorted
  member array (one aggregate shuffle + one pair-count shuffle — the
  array form beat a bucket self-join 2.2× in the r7 study) → pair
  count threshold. The ``max_bucket`` cap bounds per-bucket expansion
  exactly like the LSH bucket cap: hub buckets are dropped, not
  exploded.
- **k-core peeling** (``kcore``): each round is a degree aggregate
  over the CURRENT edge set plus two semi-joins; edges only shrink,
  so round cost is bounded by round 0. The edge frame is eagerly
  ``localCheckpoint``ed per round to keep lineage flat (the r2
  Pregel-as-joins discipline). Rounds are explicit and bounded so the
  computation stays expressible as unrolled SQL for the oracle gate;
  x100's pytest verifies the bounded answer is the fixpoint at test
  scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["cooccurrence_edges", "degrees", "kcore"]


def cooccurrence_edges(
    df: DataFrame,
    node_col: str,
    bucket_cols: tuple[str, ...],
    min_shared: int = 3,
    max_bucket: int = 32,
) -> DataFrame:
    """Undirected edge list (a < b) between nodes sharing at least
    ``min_shared`` distinct presence buckets, with buckets larger
    than ``max_bucket`` dropped (the hub-bucket skew guard)."""
    pres = df.select(*bucket_cols, node_col).distinct()
    # Sort AFTER the cap (r12): only survivor buckets (<= max_bucket
    # members) pay the O(s log s) sort; a hub bucket's set is built
    # during partial aggregation (bounded per map task by its input
    # split) and dropped at the size check WITHOUT the wasted
    # full-array sort. A count-guard + semi-join variant that never
    # builds hub arrays at all was measured and REJECTED: +25-55% at
    # sf0.1 on the 4 graph queries (two extra stages' fixed overhead
    # on the family's 2-4 s runtimes) for zero x1000 wall-clock gain
    # (14.3 vs 13.7 s — partial aggregation already spreads the
    # build across map tasks; the r12 hub micro-benchmark put a 1M-
    # member hub at parity). The residual exposure is the single
    # reduce task MERGING a celebrity bucket's partials (~8 MB per
    # 1M members); the LSH family documents the same
    # cap-after-collect convention, and a corpus where one bucket
    # approaches reducer memory wants the count-guard variant — the
    # measured trade is recorded here so that flip is a one-liner.
    bu = (
        pres.groupBy(*bucket_cols)
        .agg(F.collect_set(node_col).alias("us0"))
        .where((F.size("us0") >= 2) & (F.size("us0") <= max_bucket))
        .select(*bucket_cols, F.sort_array("us0").alias("us"))
    )
    pairs = bu.select(
        F.explode(
            F.expr(
                "flatten(transform(us, (u, i) -> "
                "transform(slice(us, i + 2, size(us)), "
                "v -> struct(u AS a, v AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("a", "b")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(v, d) degree table of an undirected (a, b) edge list.

    explode(array(a, b)) instead of a self-union: one reference to the
    input subtree in the executed plan instead of two (an unpinned or
    lazily-chained edge frame would be evaluated twice by the union
    form — the r18 duplicate-subtree rule)."""
    return (
        edges.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """``rounds`` peeling rounds toward the k-core (Matula & Beck
    1983): repeatedly drop nodes of degree < k. Returns the surviving
    edges. Bounded rounds keep the computation SQL-unrollable; pick
    ``rounds`` so a further peel is a no-op at your scale (verify
    like x100's fixpoint pytest does).

    ``checkpoint_every`` sets the lineage-truncation cadence: rounds
    whose index is not a multiple of it chain their two semi-joins
    lazily onto the previous checkpoint instead of materializing an
    intermediate edge list. The result is cadence-invariant (a
    checkpoint only truncates lineage); the trade is recomputation
    width (un-checkpointed rounds re-plan as one deeper DAG) vs
    checkpoint I/O (each eager localCheckpoint writes the surviving
    edge list to local block storage). The r12 x1000 probe found
    x100's deep cost checkpoint-I/O-bound (heap-insensitive at 16.5 s
    while its siblings dropped to ~7 s at 64g), which is why the
    cadence is a knob; the r13 study measures cadences 1/2/3 at
    x300/x1000 before changing any default.

    Single-consumer contract: the LAST round is returned lazy, its
    two semi-joins chained onto the previous checkpoint so they fuse
    into the caller's action (one pin job fewer). The returned frame
    is therefore safe to consume ONCE — by one action, or by one
    subtree such as the explode-based ``degrees()``. A caller that
    fans it into several subtrees or actions must pin it first
    (``localCheckpoint(eager=True)``), or every consumer recomputes
    the last round's joins."""
    if checkpoint_every < 1:
        # 0 would hit the modulo as an opaque ZeroDivisionError and
        # negatives would silently disable mid-run checkpointing
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    cur = edges.select("a", "b").localCheckpoint(eager=True)
    for i in range(rounds):
        ok = degrees(cur).where(F.col("d") >= k).select("v")
        cur = (
            cur.join(ok.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(ok.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
        )
        if (i + 1) % checkpoint_every == 0 and i != rounds - 1:
            cur = cur.localCheckpoint(eager=True)
    return cur

"""Similarity search over embedding columns (SURVEY.md §7 M7).

Two tiers:

- ``cosine_topk`` — brute-force baseline: broadcast the (small) query
  set against the candidate corpus; per-pair cosine is an ordered
  fold over the two arrays (bit-reproducible), ranked per query.
  At 100 TB the candidate side stays partitioned and never shuffles:
  cost is one scan + a per-partition top-k (the window is over the
  broadcast query id, so AQE handles the final k-merge).
- ``srp_buckets`` — the scale path: sign-random-projection LSH.
  Hyperplanes are derived deterministically from md5, so the same
  code runs identically everywhere (and the DuckDB oracle can
  reproduce it). Bucketing reduces ANN to an equi-join on bucket
  keys; recall is tuned by the number of planes/tables.

No MLlib, no UDFs — everything is higher-order Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "dot",
    "norm",
    "cosine",
    "cosine_topk",
    "hard_negatives",
    "srp_bits",
    "srp_buckets",
    "banded_srp_pairs",
    "embedding_neardup",
    "ivf_train",
    "ivf_assign",
    "ivf_min_d2",
    "ivf_probe_cells",
    "ivf_search",
    "pq_codes",
    "pq_adc_topk",
    "rrf_fuse",
]


def dot(a: Column, b: Column) -> Column:
    """Ordered-fold dot product in DOUBLE (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------
# SQL-text expression builders (perf r17, guide §1.2 step 2 "per-task
# work" applied to the DRIVER: the literal-centroid fold expressions
# below used to be built Column-by-Column — one py4j round-trip per
# F.lit/F.array/F.zip_with call, ~2300 round-trips ≈ 5.6 s of pure
# driver time for x94's plan CONSTRUCTION alone, measured in the
# r17 optimization round). Rendering the identical expression as ONE SQL string
# and parsing it JVM-side with a single F.expr call collapses that to
# ~5 ms. The parsed Catalyst tree is the same operator-for-operator
# (zip_with → aggregate left fold, double literals via shortest
# round-trip repr, which the SQL lexer parses back to the identical
# IEEE double), so every emitted value is bit-equal to the Column
# form — verified by tests/test_functions.py and the per-query
# oracles. Fast path requires the vector as a SQL expression string;
# Column inputs keep the original builder.
# ---------------------------------------------------------------------


def _dlit(x: float) -> str:
    """Shortest round-trip double literal for the SQL parser ('D'
    suffix keeps the lexer in DOUBLE, never DECIMAL)."""
    return repr(float(x)) + "D"


def _arr_sql(vals) -> str:
    return "array(" + ",".join(_dlit(x) for x in vals) + ")"


def _l2_fold_sql(vexpr: str, cent) -> str:
    """Squared-L2 of ``vexpr`` (SQL text) to one literal centroid —
    the exact zip_with→aggregate fold `_l2_sq_per_centroid` builds."""
    return (
        "aggregate(zip_with(" + vexpr + "," + _arr_sql(cent)
        + ",(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b))"
        + ", 0.0D, (acc, x) -> acc + x)"
    )


def _dot_fold_sql(vexpr: str, other: str) -> str:
    """Ordered-fold dot product in DOUBLE — the exact fold `dot`
    builds, as SQL text."""
    return (
        "aggregate(zip_with(" + vexpr + "," + other
        + ",(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
        + ", 0.0D, (acc, v) -> acc + v)"
    )


def _vexpr_sql(vec_col) -> str | None:
    """SQL text for a vector column given as a plain name; None for
    anything else (callers fall back to the Column builders)."""
    if isinstance(vec_col, str):
        return f"`{vec_col}`"
    return None


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 9,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Returns (query_id, cand_id, cos, rnk). Ranking is on the rounded
    cosine with candidate id as tiebreaker → fully deterministic.
    """
    # Norms are per-VECTOR, so compute them before the pair expansion:
    # per-pair `cosine()` would re-fold both norms for every (q, c)
    # combination — |q|·|c|·2 folds instead of |q|+|c|. Same float
    # sequence either way (the fold is identical on identical input),
    # so results stay bit-equal to the naive form and the oracle.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), scale
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return scored.select("query_id", "cand_id", "cos", F.row_number().over(w).alias("rnk")).where(
        F.col("rnk") <= k
    )


def hard_negatives(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 9,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    k highest-cosine candidates whose label DIFFERS from the query's
    — the near-misses that make a contrastive loss learn something.

    Returns (query_id, cand_id, neg_label, cos, rnk); ranking on the
    rounded cosine with candidate id tiebreak, fully deterministic.

    Same cost model as :func:`cosine_topk`: queries broadcast, the
    candidate side never shuffles for scoring, per-vector norms are
    folded once before the pair expansion, and the label filter runs
    BEFORE ranking so equal-label pairs never enter the per-query
    heap."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        F.col(label_col).alias("qlab"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        F.col(label_col).alias("neg_label"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("qlab") != F.col("neg_label"))
        .select(
            "query_id",
            "cand_id",
            "neg_label",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), scale
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return scored.select(
        "query_id", "cand_id", "neg_label", "cos", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= k)


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): md5-derived so
    any engine reproduces the same hyperplanes.

    Computed in Python (hashlib md5 == every engine's md5) and
    embedded as a plain float literal — building it as a Column
    expression tree put 1024 md5 nodes into codegen and cost seconds
    of compilation per query."""
    import hashlib

    h = int(hashlib.md5(f"plane{plane}_{dim}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def srp_bits(vec_col: Column | str, n_planes: int = 16, dims: int = 64) -> Column:
    """Sign-random-projection signature: bit j = (v · plane_j) > 0.

    Each plane is a literal array (md5 of literals → constant-folded
    by Catalyst), so per row this is n_planes ordered folds."""
    vtxt = _vexpr_sql(vec_col)
    if vtxt is not None:
        # one SQL string, one py4j call (see the SQL-text builder note
        # above) — the parsed tree is the identical CASE WHEN fold
        bits_sql = ",".join(
            "CASE WHEN ("
            + _dot_fold_sql(
                vtxt, _arr_sql(_plane_weight(j, d) for d in range(dims))
            )
            + ") > 0.0D THEN '1' ELSE '0' END"
            for j in range(n_planes)
        )
        return F.expr(f"concat_ws('', {bits_sql})")
    v = vec_col
    bits = []
    for j in range(n_planes):
        plane = F.array(*[F.lit(_plane_weight(j, d)) for d in range(dims)])
        bits.append(F.when(dot(v, plane) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat_ws("", *bits)


def srp_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dims: int = 64,
) -> DataFrame:
    """(id, bucket): equal buckets ≈ high-cosine candidates. ANN
    search = equi-join on bucket, then exact re-rank inside buckets."""
    return df.select(F.col(id_col), srp_bits(vec_col, n_planes, dims).alias("bucket"))


def banded_srp_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 2,
    planes_per_band: int = 8,
    dims: int = 64,
    max_bucket: int = 200,
) -> DataFrame:
    """LSH candidate pairs via banded sign-random-projection.

    The MinHash-banding recipe applied to SRP bits: split the
    ``bands·planes_per_band``-bit signature into ``bands`` contiguous
    bands; vectors agreeing on ANY whole band become a candidate pair.
    Returns distinct (a, b) with a < b.

    Scale shape: one narrow pass computes signatures, ``bands`` rows
    per vector shuffle on the band key (bytes, not embeddings), and
    pair generation is an equi-join inside buckets — never an
    all-pairs cross join. ``max_bucket`` drops degenerate buckets
    (e.g. zero/near-zero vectors that all share one sign pattern, or
    any hot embedding region): an uncapped bucket makes the per-bucket
    pair set quadratic, which is the classic LSH skew pathology at
    scale. Capped buckets should be routed to a dedicated path
    (tighter bands, or exact dedup on the bucket) rather than
    pair-expanded. Recall is tuned by bands × planes_per_band exactly
    as in MinHash LSH.

    The banded-signature frame is MATERIALIZED (eager localCheckpoint)
    before the size filter and self-join: those three consumers would
    otherwise each re-evaluate the signature subtree — the hyperplane
    fold is the expensive part, and |vecs|·bands short keys are cheap
    to store at any scale.
    """
    n_planes = bands * planes_per_band
    sig = df.select(F.col(id_col), srp_bits(vec_col, n_planes, dims).alias("bits"))
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.substring("bits", b * planes_per_band + 1, planes_per_band),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    ).localCheckpoint(eager=True)
    kept = (
        banded.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("sz"))
        .where(F.col("sz") <= max_bucket)
        .select("band_key")
    )
    capped = banded.join(F.broadcast(kept), "band_key")
    a = capped.select(F.col(id_col).alias("a"), "band_key")
    b = capped.select(F.col(id_col).alias("b"), "band_key")
    return (
        a.join(b, "band_key")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 2,
    planes_per_band: int = 8,
    dims: int = 64,
    scale: int = 9,
    max_bucket: int = 200,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-SRP candidates,
    then exact cosine verification at ``threshold``.

    The embedding-space member of the dedup family (exact hash → x4,
    MinHash/Jaccard → x5, SimHash → x6): candidate generation touches
    only signature bytes, the expensive exact cosine runs on the
    candidate set alone. Returns (a, b, cos) with a < b, cos rounded
    to ``scale`` digits for cross-engine determinism.
    """
    pairs = banded_srp_pairs(
        df, id_col=id_col, vec_col=vec_col, bands=bands,
        planes_per_band=planes_per_band, dims=dims, max_bucket=max_bucket,
    )
    # Per-vector norms computed before the pair join (not per pair):
    # |pairs|·2 norm folds collapse to |vectors| — same float sequence
    # on the same values, so the cosine stays bit-equal to the oracle.
    ea = df.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    eb = df.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        pairs.join(ea, "a")
        .join(eb, "b")
        .select(
            "a",
            "b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), scale
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


#: Mean quantization scale for deterministic k-means: per-element
#: values are quantized to 1/2^20 before the exact int64 sum, so the
#: centroid mean is an exact rational — identical regardless of
#: partition/summation order, and replayable bit-for-bit by any other
#: engine (the DuckDB oracle for x12 does exactly this).
_IVF_Q = 1048576.0  # 2**20


def ivf_train(df: DataFrame, k: int = 8, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic k-means coarse quantizer (IVF training).

    Init = the k lowest-id vectors (deterministic, no RNG); then
    ``iters`` Lloyd rounds. Each round is one Spark pass: centroids
    broadcast as literals, assignment via argmin of squared L2 (an
    ordered fold per centroid), new means via groupBy + per-dimension
    EXACT sums (posexplode → (cell, dim) partial aggregation — scales
    to any corpus; only the k×dims centroid matrix ever reaches the
    driver).

    The mean is computed from quantized int64 sums (``floor(x·2^20 +
    0.5)``), NOT a double ``avg``: double summation order varies with
    partitioning, which made trained centroids run-dependent and the
    whole pipeline un-oracle-able. With exact integer sums the
    centroids are a pure function of the input — bit-reproducible
    across engines, so x12's end-to-end IVF value-matches a DuckDB
    replay of the same Lloyd rounds.
    """
    # dims rides the init collect — one bounded driver action, not two
    init = [list(r[1]) for r in df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()]
    centroids = [[float(x) for x in c] for c in init]
    dims = len(centroids[0])
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
        sums = (
            assigned.select("cell", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * _IVF_Q + F.lit(0.5))
                    .cast("long")
                ).alias("sq"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        # Driver-traffic cap: this collect is the ONLY thing that
        # crosses the boundary per round and is bounded by the model
        # size, never the corpus.
        assert len(sums) <= k * dims, "ivf_train collect exceeded k x dims rows"
        new = [list(c) for c in centroids]  # keep empty cells stable
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            # int/int true division == DuckDB sq::DOUBLE / n (both are
            # the correctly-rounded quotient; |sq| << 2^53).
            by_cell.setdefault(r.cell, {})[r.dim] = (r.sq / r.n) / _IVF_Q
        for cell, dim_map in by_cell.items():
            new[cell] = [dim_map[d] for d in range(dims)]
        centroids = new
    return centroids


def _l2_sq_per_centroid(v: Column, centroids: list[list[float]]) -> list[Column]:
    """Squared-L2 distance of ``v`` to each centroid — one ordered
    fold per centroid (bit-identical across engines on identical
    input), centroids as literal arrays (no join, no shuffle)."""
    d2s = []
    for c in centroids:
        carr = F.array(*[F.lit(x) for x in c])
        diff2 = F.zip_with(v, carr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
        d2s.append(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    return d2s


def ivf_min_d2(vec_col: Column | str, centroids: list[list[float]]) -> Column:
    """Quantization distortion of one vector under an index: min over
    cells of squared L2 — the per-vector term of the index-staleness
    audit (mean distortion growing vs a fresh index = retrain
    signal). min over doubles is order-independent, so any engine's
    min over the same fold values agrees exactly."""
    vtxt = _vexpr_sql(vec_col)
    if vtxt is not None:
        arr = "array(" + ",".join(_l2_fold_sql(vtxt, c) for c in centroids) + ")"
        return F.expr(f"array_min({arr})")
    return F.array_min(F.array(*_l2_sq_per_centroid(vec_col, centroids)))


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid cell (argmin L2²).
    Centroids ride as literal arrays — no join, no shuffle."""
    # SQL-text fast path (see the builder note above): same argmin
    # tree, one py4j call instead of ~550
    arr = (
        "array("
        + ",".join(_l2_fold_sql(f"`{vec_col}`", c) for c in centroids)
        + ")"
    )
    best = F.expr(f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)")
    return df.select(F.col(id_col), F.col(vec_col), best.alias("cell"))


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``len(codebooks)`` contiguous subvectors; subvector ``s`` is
    assigned to its nearest centroid in ``codebooks[s]`` (argmin L2²,
    ties → lowest centroid id). Returns (id, code_0..code_{m-1},
    recon_err) where recon_err is the total squared quantization
    error — PQ is THE memory story for billion-vector ANN: m codes of
    ⌈log2 k⌉ bits replace the full float vector (64 floats → 4 bytes
    here), and distance evaluation becomes m table lookups.

    Determinism: distances are ordered folds over the subvector
    (bit-identical across engines on identical input); argmin takes
    the FIRST minimum. Centroids ride as literals — no join, no
    shuffle; encoding runs at scan speed (exactly ``ivf_assign``
    per subspace). ``keep_cols`` pass through unchanged — so cell
    assignment + encoding compose in ONE scan (the IVF-PQ layout)."""
    # SQL-text fast path (see the builder note above): identical
    # argmin-per-subspace tree, ~10 py4j calls instead of ~700
    out_cols = [F.col(id_col), *(F.col(c) for c in keep_cols)]
    err_terms = []
    offset = 0  # cumulative — books may have different subdims
    for s, book in enumerate(codebooks):
        subdim = len(book[0])
        if any(len(c) != subdim for c in book):
            raise ValueError(
                f"codebook {s} has centroids of mixed dims; all centroids "
                "in one book must share the book's subvector dim"
            )
        sub = f"slice(`{vec_col}`, {offset + 1}, {subdim})"
        offset += subdim
        darr = (
            "array("
            + ",".join(
                _l2_fold_sql(sub, [float(x) for x in cent]) for cent in book
            )
            + ")"
        )
        out_cols.append(
            F.expr(
                f"CAST(array_position({darr}, array_min({darr})) - 1 AS INT)"
            ).alias(f"code_{s}")
        )
        err_terms.append(f"array_min({darr})")
    out_cols.append(F.expr(" + ".join(err_terms)).alias("recon_err"))
    return df.select(*out_cols)


def ivf_probe_cells(
    centroids: list[list[float]], query_vec: list[float], n_probe: int = 1
) -> list[int]:
    """The ``n_probe`` nearest cells to one query vector — driver-side
    over the k x dims model (never the corpus). Ties break to the
    LOWEST cell (Python's stable sort), and the left-fold ``sum``
    starting at 0 is IEEE-identical to a SQL ``list_reduce`` fold over
    the same operands, so an oracle replaying ``ORDER BY d2, cell
    LIMIT n`` picks the same cells bit-for-bit."""

    def d2(c):
        return sum((a - b) ** 2 for a, b in zip(query_vec, c))

    return sorted(range(len(centroids)), key=lambda i: d2(centroids[i]))[:n_probe]


def ivf_search(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``n_probe`` nearest cells for one query vector, exact
    cosine rerank inside them. The scan prunes to the probed cells'
    inverted lists — the 1/k (or n_probe/k) cost reduction that makes
    ANN viable at 100 TB."""
    probes = ivf_probe_cells(centroids, query_vec, n_probe)
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.where(F.col("cell").isin(*probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qarr), 9).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def pq_adc_topk(
    queries: DataFrame,
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric Distance Computation top-k (Jégou, Douze & Schmid
    2011): rank PQ-CODED candidates against FULL query vectors. Each
    query first builds its per-subspace lookup table — L2² from its
    subvector to every codeword, an |codebook|-entry array computed
    ONCE per query at scan stage — and each (query, candidate) pair
    then costs ``m`` array lookups instead of a full-dimension fold:
    the reason PQ search is memory-bandwidth-bound, not FLOP-bound.

    ``coded`` is ``pq_codes`` output (id + code_0..code_{m-1}).
    Returns (query_id, cand_id, adc, rnk), ranked (adc asc, cand_id)
    — fully deterministic: the table entries are ordered folds and
    the m-term sum is fixed-order.

    Scale shape: queries (with their tables) broadcast; the coded
    corpus never shuffles; per-pair work is m lookups over the
    broadcast row. At 100 TB the coded corpus is ~5 bytes/vector —
    the whole point."""
    # SQL-text fast path (see the builder note above): identical
    # per-subspace LUT fold tree, one py4j call per book
    luts = []
    for s, book in enumerate(codebooks):
        subdim = len(book[0])
        offset = sum(len(b[0]) for b in codebooks[:s])
        sub = f"slice(`{vec_col}`, {offset + 1}, {subdim})"
        luts.append(
            F.expr(
                "array("
                + ",".join(
                    _l2_fold_sql(sub, [float(x) for x in cent])
                    for cent in book
                )
                + ")"
            ).alias(f"_lut_{s}")
        )
    q = queries.select(F.col(id_col).alias("query_id"), *luts)
    c = coded.select(
        F.col(id_col).alias("cand_id"),
        *[F.col(f"code_{s}") for s in range(len(codebooks))],
    )
    adc = None
    for s in range(len(codebooks)):
        term = F.element_at(F.col(f"_lut_{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "cand_id", adc.alias("adc")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col("cand_id"))
    return scored.select(
        "query_id", "cand_id", "adc", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009):
    fuse any number of rankings — each a DataFrame of (``id_col``,
    ``rank_col``) — by ``rrf_e6 = Σ floor(1e6 / (k + rank))``.
    Integer-exact: each term is an e6-floored quotient of exact
    integers, the sum is an integer sum, and ids absent from a
    ranking contribute 0 — so results are engine- and
    partitioning-independent. Returns (``id_col``, ``rrf_e6``),
    unordered; rank or top-k downstream.

    Scale shape: each ranking is a top-N frame (N rows per request),
    so the fusion joins constant-size relations no matter the corpus
    — do retrieval at scale, fuse for pennies."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col),
            F.floor(1000000.0 / (k + F.col(rank_col))).cast("long").alias("_t"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr.groupBy(id_col).agg(F.sum("_t").cast("long").alias("rrf_e6"))

"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard (SURVEY.md §7 M7; engine-added — the reference has no dedup).

Scale design (100 TB of documents):

- **Exact**: one shuffle on the 16-byte fingerprint; skew-safe (a
  hash key is uniform by construction).
- **MinHash-LSH**: the expensive relation is (doc, shingle) after
  explode — it is pipelined with the scan; the signature is computed
  by ONE hash-aggregate (k mins in a single shuffle). Banding turns
  the quadratic all-pairs problem into a self-join on band keys whose
  fan-out is bounded by bucket size; a bucket-size cap (``max_bucket``)
  guards against degenerate buckets (the classic LSH skew pathology).
- **SimHash**: per-document only (no join) — one ordered fold over
  the token array per row, emitting a 32-bit signature; near-dup
  candidates come from banding the signature bits exactly like
  MinHash.

Hash discipline: all hashing is md5-derived (not Spark's ``hash()``)
so results are engine-portable — the DuckDB oracles reproduce every
stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from etlp_spark.functions.text import fingerprint, tokens

__all__ = [
    "exact_dedup",
    "word_ngrams",
    "word_shingles",
    "minhash_signature",
    "lsh_candidates",
    "jaccard_pairs",
    "simhash32",
    "simhash_hamming_pairs",
    "connected_components",
    "bloom_bits",
    "bloom_filter_frame",
    "bloom_hits",
    "repeated_char_ngrams",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical normalized text.

    Returns (fingerprint, keeper id, group size). One shuffle.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Positional word n-grams of a TOKEN-ARRAY column as joined
    strings — NON-distinct, so term frequencies survive (x105's
    Good-Turing counts need the multiset; HLL/overlap callers simply
    don't care). Built from n whole-array slices zipped with concat —
    per-row cost is n slices + (n-1) zip_with passes, instead of one
    slice+join per *position* inside an interpreted lambda (~10×
    faster at bench scale; the r10 x114 profile measured the
    per-position form at 8.2 s vs 1.5 s for the identical result).
    Empty array when the document is shorter than one n-gram
    (Spark's sequence/slice behave badly there)."""
    m = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, i + 1, m) for i in range(n)]
    joined = shifted[0]
    for nxt in shifted[1:]:
        joined = F.zip_with(joined, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        joined
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized token stream
    (``word_ngrams`` of ``tokens(text)``, deduplicated)."""
    return F.array_distinct(word_ngrams(tokens(text_col), n))


# k-permutation MinHash constants: universal hashing (a·x + b) mod P
# over a 32-bit base hash. P prime < 2^32; a capped to 31 bits so
# a·x stays under 2^63 (no signed overflow in any engine). Derived
# from md5 in Python so the constants are reproducible everywhere.
MINHASH_P = 4294967291


def minhash_params(i: int) -> tuple[int, int]:
    import hashlib

    a = (int(hashlib.md5(f"minhashA{i}".encode()).hexdigest()[:8], 16) & 0x7FFFFFFF) | 1
    b = int(hashlib.md5(f"minhashB{i}".encode()).hexdigest()[:8], 16) & 0x7FFFFFFF
    return a, b


def _minhash_component(h32: Column, seed: int) -> Column:
    """One MinHash component: min over (a·h + b) mod P.

    One md5 per shingle total (the 32-bit base hash), then k cheap
    integer perms — vs. k full md5 calls per shingle (measured ~4×
    faster at k=8). The base hash and the perm are reproducible in
    plain SQL, so the DuckDB oracle replays them bit-for-bit.
    """
    a, b = minhash_params(seed)
    return F.min((h32 * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 16, n: int = 3
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): explode shingles once, aggregate k mins
    in a single hash-aggregate (one shuffle total)."""
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("sh")
    ).where(F.col("sh") != "")
    h32 = F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("long").alias("h32")
    hashed = exploded.select(F.col(id_col), h32)
    aggs = [_minhash_component(F.col("h32"), i).alias(f"sig_{i}") for i in range(k)]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidates(
    sig_df: DataFrame, id_col: str = "doc_id", k: int = 16, bands: int = 4, max_bucket: int = 50
) -> DataFrame:
    """Band the signature, self-join on band keys → candidate pairs
    (a < b) with the estimated Jaccard = fraction of equal signature
    components.

    ``max_bucket`` drops degenerate buckets (boilerplate documents
    collapse into huge buckets whose pair fan-out is quadratic — at
    scale you cap them and route to a dedicated path).
    """
    rows = k // bands
    # The signature frame feeds three consumers (banding + both sides
    # of the estimate join) — persist it or the whole shingle→minhash
    # aggregation recomputes per consumer (measured 7× recompute).
    sig_df = sig_df.persist()

    # One pass for ALL bands: band keys as an array, exploded — a
    # single shuffle on bucket instead of one groupBy per band. The
    # band index is baked into the key so equal rows in different
    # bands never collide.
    # unhex(md5(...)): the bucket key shuffles as 16 raw bytes instead
    # of a 32-char hex string (~40 B as UTF8String). Equality on the
    # binary is exactly equality on the hex digest, so the bucket
    # partitioning — and every downstream row — is unchanged (§2.3
    # narrower types); the key never escapes this function.
    band_keys = F.array(
        *[
            F.unhex(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)],
                    )
                )
            )
            for b in range(bands)
        ]
    )
    exploded = sig_df.select(F.col(id_col), F.explode(band_keys).alias("bucket"))
    sized = exploded.groupBy("bucket").agg(
        F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("sz")
    )
    # cap bucket size before the self-join (skew guard)
    buckets = sized.where(F.col("sz") <= max_bucket).select("bucket", "ids")

    pairs = (
        buckets.select(F.explode(F.col("ids")).alias("a"), F.col("ids"))
        .select("a", F.explode(F.col("ids")).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )

    sig_a = sig_df.select(
        F.col(id_col).alias("a"), *[F.col(f"sig_{i}").alias(f"sa_{i}") for i in range(k)]
    )
    sig_b = sig_df.select(
        F.col(id_col).alias("b"), *[F.col(f"sig_{i}").alias(f"sb_{i}") for i in range(k)]
    )
    est = None
    for i in range(k):
        term = F.when(F.col(f"sa_{i}") == F.col(f"sb_{i}"), 1).otherwise(0)
        est = term if est is None else est + term
    return (
        pairs.join(sig_a, "a").join(sig_b, "b")
        .select("a", "b", F.round(est / F.lit(float(k)), 6).alias("est_jaccard"))
    )


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify step
    after LSH blocking). Set sizes are ints → exact on any engine.

    Perf (opt r17): the shingle pipeline is built ONCE per row — the
    old form evaluated ``word_shingles`` twice in one projection (for
    the array and its size; the HOF zip_with keeps it off codegen and
    therefore off CSE) and then once more per JOIN SIDE. The staged
    size select and the persist make it one pass; the staged
    intersection select likewise evaluates ``array_intersect`` once
    per pair instead of twice (numerator + denominator)."""
    sh = (
        df.select(F.col(id_col), word_shingles(text_col, n).alias("sh"))
        .select(F.col(id_col), "sh", F.size("sh").alias("sz"))
        .persist()  # two consumers: the a and b join sides
    )
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(a, "a").join(b, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("_i"),
            "sz_a",
            "sz_b",
        )
        .select(
            "a",
            "b",
            F.round(
                F.col("_i").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("_i")),
                6,
            ).alias("jaccard"),
        )
    )


def simhash32(text_col: str) -> Column:
    """32-bit SimHash of the token stream.

    Per token, a 32-bit md5-derived hash votes ±1 on each bit; the
    signature sets bits with positive tallies. Single ordered fold
    per row (aggregate over the token array) — no shuffle, no UDF,
    and md5-based so the oracle reproduces it.
    """
    toks = tokens(text_col)
    # Perf shape (HOFs are interpreted, not codegen'd, so every node
    # in the per-element lambda counts):
    #  - hash each token ONCE up front (transform), not inside the
    #    bit lambdas (32× the md5 work otherwise);
    #  - bit tests are bitwiseAND against LITERAL powers of two — no
    #    pow(), no division, no casts in the hot lambda.
    hashes = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])

    tallies = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(pow2, lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            tallies,
            pow2,
            lambda tally, p: F.when(tally > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    band_bits: int = 8,
    max_bucket: int = 100,
    max_hd: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs, end to end (the Manku/Google web-dedup
    scheme): 32-bit SimHash per row → band the signature into
    ``bands`` × ``band_bits``-bit keys → bucket-join candidates
    (a < b, bucket size capped) → exact Hamming verify ≤ ``max_hd``.
    With bands·band_bits covering the signature, any pair within
    Hamming distance ``bands − 1`` shares at least one untouched band,
    so candidate generation is complete without an all-pairs scan.

    Returns (a, b, hd). Scale shape: signatures are a scan-stage fold;
    banding shuffles only (id, small int key); ``max_bucket`` bounds
    pair fan-out exactly like LSH's skew cap; the verify join touches
    candidate ids only."""
    sims = df.select(
        F.col(id_col), simhash32(text_col).cast("long").alias("sh")
    ).persist()
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("bi"),
                F.shiftright(F.col("sh"), band_bits * bi)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for bi in range(bands)
        ]
    )
    bands_df = sims.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        id_col, "bk.bi", "bk.key"
    )
    sized = bands_df.groupBy("bi", "key").agg(
        F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("sz")
    )
    cand = (
        sized.where(F.col("sz") <= max_bucket)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    sa = sims.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"))
    sb = sims.select(F.col(id_col).alias("b"), F.col("sh").alias("shb"))
    hd = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .where(hd <= max_hd)
        .select("a", "b", hd.cast("int").alias("hd"))
    )


def _drop_jvm_handle(df: DataFrame) -> None:
    """Let ``df``'s JVM handle die with ``df`` by refcount. A py4j
    ``JavaObject`` caches every ``JavaMember`` it hands out and each
    member points back at it, so without this the handle (and the JVM
    plan it pins) outlives ``df`` until the next full cyclic
    collection. Clearing the cache is safe on a frame still in use:
    the next method call just re-creates its member."""
    df._jdf._methods.clear()


def connected_components(
    nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Connected components over a candidate-pair graph by iterative
    min-label propagation: every node's label converges to the minimum
    node id in its component. Returns (id_col, cluster).

    This is the step that turns near-dup *pairs* (from LSH) into dup
    *clusters* so a pipeline can keep one canonical document per
    cluster. The reference has no graph ops at all (engine-added,
    SURVEY.md §2.2).

    Scale design: each round does min-label propagation (explode both
    edge directions, min-aggregate on node) PLUS a pointer-jumping
    shortcut (label ← label-of-label) — the hooking+shortcutting
    combination, so rounds are O(log diameter), not O(diameter):
    ``max_iter=20`` covers component diameters past 10^6, and a chain
    longer than that raises instead of silently returning partial
    (wrong) clusters. Each round ends in an EAGER ``localCheckpoint``:
    unlike ``persist`` (which caches data but keeps the logical plan),
    checkpointing truncates lineage — essential here because each
    round's plan embeds TWO copies of the previous round's (the
    pointer-jump self-join), so an uncheckpointed loop re-analyzes a
    2^rounds-sized plan and stalls in Catalyst long before any data
    moves. Eager also means the frame is fully materialized before
    the convergence probe, so no partition ever recomputes through a
    dropped round.
    """
    # Persist the edge list: the loop joins against it every round —
    # without this, the entire upstream pair-generation pipeline
    # (shingle → minhash → banding → self-join for LSH pairs)
    # recomputes per iteration (measured 10×+ on the bench). Both
    # directions come from ONE pass over pairs (explode of the two
    # orientations) — a union of two selects would run the pair
    # pipeline twice before the persist materializes.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").persist()
    # Iterate ONLY over nodes that occur in some pair: singletons can
    # never change label, so the loop state is |docs in candidate
    # pairs| (tiny — the dup fraction), not |corpus|. At 100 TB that
    # is the difference between shuffling the corpus per round and
    # shuffling a few percent of it.
    # Round-0 fusion: initial label = min(own id, min neighbour id),
    # computed in the same aggregation that enumerates the distinct
    # nodes — one shuffle replaces distinct + a whole propagate round.
    labels = (
        edges.groupBy(F.col("src").alias(id_col))
        .agg(F.least(F.first("src"), F.min("dst")).alias("cluster"))
        .localCheckpoint(eager=True)
    )
    ckpt = labels
    converged = False
    for _ in range(max_iter):
        # Step 1 — min over own label and every neighbour's label.
        # `stepped` is consumed twice by the pointer-jump self-join, so
        # persist() it (cache, released at the end of the round — safe
        # for persist, unlike checkpoint blocks) to evaluate the
        # neighbor-min aggregation once.
        neighbor_min = (
            edges.join(labels, edges.dst == F.col(id_col))
            .groupBy(F.col("src").alias(id_col))
            .agg(F.min("cluster").alias("nb_cluster"))
        )
        stepped = (
            labels.join(neighbor_min, id_col, "left")
            .select(
                F.col(id_col),
                F.col("cluster").alias("old_cluster"),
                F.least(
                    F.col("cluster"), F.coalesce("nb_cluster", F.col("cluster"))
                ).alias("mid_cluster"),
            )
            .persist()
        )
        # Step 2 — pointer jump: cluster ← cluster's cluster. Labels
        # are monotone non-increasing component ids, so the jump is
        # safe and collapses chains exponentially. The round ends in an
        # eager localCheckpoint: it materializes the join ONCE (both
        # next-round consumers then read the blocks) and truncates the
        # plan so the next round's analysis starts from a leaf — an
        # uncheckpointed loop re-analyzes a 2^rounds-sized plan (the
        # self-join doubles it per round) and stalls in Catalyst long
        # before any data moves. The convergence probe rides the SAME
        # materialization job as an observed metric (CollectMetrics)
        # instead of a separate count() job re-reading the checkpoint
        # blocks — one pass over the labels per round, not two.
        parents = stepped.select(
            F.col(id_col).alias("_pid"), F.col("mid_cluster").alias("_pcl")
        )
        conv = Observation()
        joined = (
            stepped.join(parents, stepped["mid_cluster"] == parents["_pid"], "left")
            .select(
                F.col(id_col),
                F.col("old_cluster"),
                F.coalesce("_pcl", "mid_cluster").alias("cluster"),
            )
            .observe(
                conv,
                F.coalesce(
                    F.sum(
                        (F.col("cluster") != F.col("old_cluster")).cast("long")
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        stepped.unpersist()
        changed = conv.get["changed"]
        # Checkpoint blocks can't be unpersisted safely (locally-
        # checkpointed RDDs serve reads FROM their blocks), but the last
        # round's frames are unreferenced once this round's checkpoint
        # exists. Dropping their py4j handles here lets Spark's
        # ContextCleaner reclaim the old blocks without a full
        # gc.collect() per round (test_connected_components_frees_
        # rounds_two_back).
        for done in (ckpt, labels, stepped, parents):
            _drop_jvm_handle(done)
        ckpt = joined
        labels = joined.select(id_col, "cluster")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(component diameter > 2^{max_iter}); raise max_iter"
        )
    # singletons keep their own id; one broadcast-able join back
    return nodes.select(id_col).join(labels, id_col, "left").select(
        F.col(id_col), F.coalesce("cluster", F.col(id_col)).alias("cluster")
    )


def bloom_bits(col: Column | str, m: int = 4096, k: int = 3) -> Column:
    """The ``k`` Bloom-filter bit positions (each in ``[0, m)``) for a
    key, as an ``array<long>``. Positions derive from
    ``md5(key || '#j')`` — engine-portable (a DuckDB oracle computes
    the same bits bit-for-bit; Spark's ``hash()`` would not be), and
    independent across the ``j`` salt suffixes.

    Scan-stage only: no shuffle, no state — use it to build a filter
    (``bloom_filter_frame``) or to probe one (``bloom_hits``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(c, F.lit(f"#{j}"))), 1, 13), 16, 10
            ).cast("long")
            % m
            for j in range(k)
        ]
    )


def bloom_filter_frame(
    ref: DataFrame, col: str, m: int = 4096, k: int = 3
) -> DataFrame:
    """The SET Bloom bits of a reference corpus: one ``bit`` column,
    ``<= m`` DISTINCT rows. Constant-size in the corpus (the entire
    point of a Bloom filter), so the result is ALWAYS broadcastable
    no matter how large ``ref`` is — at 100 TB, pick ``m`` for the
    target false-positive rate and RAM, or collapse the frame to a
    packed ``long[]`` literal via ``aggregate`` when even the
    broadcast relation is too chatty.
    """
    return ref.select(F.explode(bloom_bits(col, m, k)).alias("bit")).distinct()


def bloom_hits(
    probe: DataFrame,
    bits: DataFrame,
    col: str,
    keys: tuple[str, ...],
    m: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Probe a Bloom filter: returns ``keys`` + boolean ``bloom_hit``
    (true iff ALL ``k`` probe bits are present in ``bits``). No false
    negatives by construction; false-positive rate is the analytic
    ``(1 - e^(-k*n/m))^k``.

    Plan shape: probe-bit derivation is scan-stage; ``bits`` (constant
    size) is broadcast, so the only aggregation is the per-key
    k-way AND — the memory-bounded pre-filter an incremental-dedup
    pipeline runs before any exact (corpus-sized) membership check.
    """
    pb = probe.select(*keys, F.explode(bloom_bits(col, m, k)).alias("bit"))
    return (
        pb.join(F.broadcast(bits.withColumn("present", F.lit(1))), "bit", "left")
        .groupBy(*keys)
        .agg((F.count("present") == k).alias("bloom_hit"))
    )


def repeated_char_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    stride: int = 4,
    min_docs: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-document repeated-substring audit (the char-level signal
    behind Lee et al. 2022's exact-substring dedup): sample char
    ``n``-grams every ``stride`` positions, fingerprint them, and
    flag grams occurring in >= ``min_docs`` DISTINCT documents.
    Returns one row per document (``id_col`` + ``keep_cols`` +
    ``n_grams`` + ``n_mem``) — the per-doc memorized-gram counts a
    pipeline thresholds to route documents into substring-level
    dedup.

    Scale shape: gram enumeration is scan-stage (``stride`` bounds it
    at ~len/stride rows per doc); fingerprints are 60-bit LONGS (the
    md5 prefix), not hex strings — 4-5x fewer shuffle bytes; the
    per-(doc, fp) pre-aggregate collapses within-doc duplicates
    BEFORE the wide stage; and the distinct-doc count is a WINDOW
    over the fp partition on that deduped frame, so the corpus-sized
    relation is never duplicated through a join-back (the x78
    lesson — measured 2x faster than the join form at x100, same
    values). Uniform keys by construction, no pair expansion
    anywhere. Documents shorter than ``n`` chars are excluded (they
    have no grams).
    """
    from pyspark.sql import Window

    docs = df.where(F.length(text_col) >= n)
    grams = docs.select(
        id_col,
        *keep_cols,
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {n - 1}, "
                f"{stride}), i -> substr({text_col}, i, {n}))"
            )
        ).alias("gram"),
    )
    fp = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long")
    g = (
        grams.select(id_col, *keep_cols, fp.alias("fp"))
        .groupBy(id_col, *keep_cols, "fp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # one row per (fp, doc): a plain count over the fp partition IS
    # the distinct-doc count
    nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return (
        g.withColumn("nd", nd)
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= min_docs, F.col("c")).otherwise(0))
            .cast("long").alias("n_mem"),
        )
    )

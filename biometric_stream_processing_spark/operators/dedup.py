"""Deduplication and fingerprinting operators for training-data
pipelines (beyond-reference surface): exact, MinHash+LSH, simhash
Hamming pairs (pigeonhole blocking), n-gram Jaccard, MOSS winnowing
fingerprints, embedding-cosine near-dup (the last via
``similarity.similar_pairs_blocked``).

Scale design: every stage is a groupBy/join on content-derived keys —
no cross product ever materializes. Exact dedup shuffles md5 digests
(16 bytes/doc, not the documents). LSH candidate generation shuffles
(band, bucket) pairs; only bucket-colliding docs meet in the verify
join, which is the whole point of LSH at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles, words


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism before CPU-heavy
    per-row expressions. The test corpus arrives as one parquet file →
    one partition → single-threaded hashing; at 100 TB the scan is
    already split and AQE would keep this a no-op-sized shuffle of
    pointers, so the explicit repartition only guards the small-file
    degenerate case."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the min id as
    canonical. Output one row per distinct content."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) rows: MinHash signature over word
    ``shingle_n``-grams, split into ``bands`` bands whose bucket is the
    md5 of the band's concatenated signature rows.

    Documents with fewer than ``shingle_n`` words have no shingles and
    drop out here (explode of an empty array emits nothing) — matching
    the oracle's ``WHERE len(ws) >= shingle_n`` filter."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into "
            f"bands ({bands}); trailing signature rows would be "
            "silently dropped, weakening LSH recall"
        )
    rows = num_hashes // bands
    # Explode-then-aggregate rather than per-row array folds: md5/min
    # stay inside whole-stage codegen (interpreted higher-order
    # functions measured 3.4x slower), and the groupBy gets a map-side
    # partial min so the shuffle carries 8 short strings per doc.
    # The words array is MATERIALIZED in its own projection first:
    # inlining words(text) into shingles() would re-evaluate the
    # filter(split(text)) under every element_at of the transform
    # lambda (Catalyst doesn't CSE inside lambdas) — measured 2x on
    # this stage.
    tokenized = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    )
    exploded = tokenized.select(
        F.col(id_col), F.explode(shingles(F.col("_ws"), shingle_n)).alias("_s")
    )
    hashed = exploded.select(F.col(id_col), F.md5("_s").alias("_h"))
    sig = hashed.groupBy(id_col).agg(
        *[F.min(F.substring("_h", 4 * s + 1, 4)).alias(f"m{s}")
          for s in range(num_hashes)]
    )
    band_cols = []
    for b in range(bands):
        concat = F.concat(*[F.col(f"m{b * rows + r}") for r in range(rows)])
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(concat).alias("bucket"))
        )
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("_b"))
        .select(id_col, F.col("_b.band").alias("band"),
                F.col("_b.bucket").alias("bucket"))
    )


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    n_groups: int = 8,
    payload: str | None = None,
    pair_pred=None,
) -> DataFrame:
    """Distinct id pairs sharing any (band, bucket).

    Shaped as ONE aggregation + in-cell pair expansion rather than a
    self-join: a self-join would execute the (expensive) signature
    subtree twice — Catalyst's ReuseExchange can't kick in because the
    two sides' alias projections differ. Grouping computes signatures
    once and shuffles only small (band, bucket, id) rows.

    Skew safety (the 100 TB case): a degenerate hot bucket (thousands
    of boilerplate near-identical docs sharing a band signature) must
    not land its O(n) member list — let alone its O(n²) pairs — in one
    task. Triangle partitioning bounds both: each member gets a
    deterministic group ``g = xxhash64(id) % G`` and is replicated to
    every group-pair cell ``(lo, hi)`` with ``lo = min(g, p), hi =
    max(g, p)``; a pair (a, b) is emitted only by its single owning
    cell ``(min(ga, gb), max(ga, gb))``, so no pair is duplicated and
    no pair is missed. Per-cell membership is ≤ ~2n/G and per-cell
    pair output ~n²/G², distributed over G(G+1)/2 cells — replication
    costs G× on tiny rows, the classic all-pairs trade. Pick
    ``n_groups`` ≈ sqrt(max plausible hot-bucket size / target rows
    per task); the candidate-pair SET is independent of G.

    ``payload``: optionally carry one small column through the
    expansion (exposed as ``payload_a``/``payload_b``), and
    ``pair_pred(payload_a, payload_b) -> Column`` filters pairs
    BEFORE the distinct — essential when buckets are dense and most
    in-bucket pairs fail the verify (simhash): filtering first keeps
    the distinct's shuffle at true-pair size instead of
    candidate-multiset size (measured 4× on ``simhash_dup_pairs``).
    Without ``payload`` the output contract is unchanged:
    (id_a, id_b) distinct."""
    G = n_groups
    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(G)).cast("int")
    pay = [F.col(payload).alias("_pay")] if payload else []
    m = bands_df.select(
        "band", "bucket", F.col(id_col).alias("_id"), g.alias("_g"), *pay
    )
    # Statically unrolled cell list (codegen-friendly; interpreted
    # higher-order functions are slow in this env for hot columns).
    cell = F.explode(F.array(*[
        F.struct(
            F.least("_g", F.lit(p)).alias("lo"),
            F.greatest("_g", F.lit(p)).alias("hi"),
        )
        for p in range(G)
    ]))
    member_struct = F.struct("_g", "_id", *(("_pay",) if payload else ()))
    paycols = ["_pay"] if payload else []
    cells = m.select(
        "band", "bucket", "_id", "_g", *paycols, cell.alias("_c")
    ).select(
        "band", "bucket", "_id", "_g", *paycols, "_c.lo", "_c.hi",
    )
    members = (
        cells.groupBy("band", "bucket", "lo", "hi")
        .agg(F.collect_list(member_struct).alias("_ms"))
        .where(F.size("_ms") > 1)
    )
    pairs = (
        members.select("lo", "hi", F.explode("_ms").alias("_a"), "_ms")
        .select("lo", "hi", "_a", F.explode("_ms").alias("_b"))
        .where(
            (F.col("_a._id") < F.col("_b._id"))
            & (F.least("_a._g", "_b._g") == F.col("lo"))
            & (F.greatest("_a._g", "_b._g") == F.col("hi"))
        )
    )
    if pair_pred is not None:
        pairs = pairs.where(pair_pred(F.col("_a._pay"), F.col("_b._pay")))
    out_cols = [
        F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"),
    ]
    if payload:
        out_cols += [
            F.col("_a._pay").alias("payload_a"),
            F.col("_b._pay").alias("payload_b"),
        ]
    return pairs.select(*out_cols).distinct()


def simhash_blocked_pairs(
    sims: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 16,
    n_blocks: int = 4,
    hamming_max: int = 3,
    n_groups: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: all (id_a, id_b) whose simhash
    Hamming distance is ≤ ``hamming_max``, found EXACTLY via
    multi-index pigeonhole blocking — splitting the ``bits``-wide
    fingerprint into ``n_blocks`` equal blocks guarantees any pair
    differing in ≤ n_blocks − 1 bits shares at least one intact block,
    so blocking on (block position, block value) loses no true pair;
    the ``bit_count(xor)`` verify then makes the set exact (the
    Manku/Jain/Sarma WWW'07 simhash-dedup scheme, re-expressed as an
    equi-join).

    The block rows feed the SAME triangle-partitioned pair expansion
    as MinHash LSH (``lsh_candidate_pairs`` — block position is the
    band, block value the bucket), inheriting its hot-bucket safety.
    That matters here more than for MinHash: a 16-bit simhash has only
    2^(bits/n_blocks) distinct values per block (16 at these
    defaults), so at corpus scale EVERY bucket is hot — a production
    deployment uses a 64-bit simhash (16-bit blocks → 65 536 buckets)
    and keeps this exact shape.
    """
    if hamming_max > n_blocks - 1:
        raise ValueError(
            f"pigeonhole completeness needs hamming_max ({hamming_max}) "
            f"<= n_blocks - 1 ({n_blocks - 1}); raise n_blocks"
        )
    width = bits // n_blocks
    mask = (1 << width) - 1
    block_arr = F.array(*[
        F.struct(
            F.lit(p).alias("band"),
            F.shiftright(F.col(simhash_col), p * width)
            .bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for p in range(n_blocks)
    ])
    bands = sims.select(
        F.col(id_col), F.col(simhash_col), F.explode(block_arr).alias("_b")
    ).select(
        id_col, simhash_col,
        F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket"),
    )
    # The simhash travels WITH each member so the Hamming verify runs
    # inside the pair expansion, BEFORE the distinct: dense blocks
    # (2^width values) generate mostly-failing candidates, and
    # filtering first keeps the distinct at true-pair size (measured
    # 4x at sf0.1 vs expand → distinct → join-back → verify).
    cand = lsh_candidate_pairs(
        bands, id_col=id_col, n_groups=n_groups,
        payload=simhash_col,
        pair_pred=lambda a, b: F.bit_count(a.bitwiseXOR(b)) <= hamming_max,
    )
    return cand.select(
        "id_a", "id_b",
        F.bit_count(
            F.col("payload_a").bitwiseXOR(F.col("payload_b"))
        ).alias("hamming"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local-fingerprinting algorithm): hash every
    word ``k``-gram, slide a ``w``-hash window, select each window's
    MINIMUM hash; the distinct selected hashes are the document's
    sketch. Winnowing's coverage guarantee: any shared run of at least
    ``k + w - 1`` words between two documents yields at least one
    shared fingerprint, so overlapping-passage detection is an
    equi-join on ``fp`` — the rolling-hash fingerprint family the
    md5-whole-document ``fingerprint()`` can't provide.

    Hashes are the first 8 hex chars of md5 (engine-neutral;
    lexicographic min == unsigned numeric min on equal-width hex).
    Formulated posexplode-THEN-hash → sliding-frame ``min``: md5 runs
    as a codegen'd column function over exploded gram rows (an md5
    inside an array ``transform`` is interpreted — the measured slow
    path, see ``minhash_bands``), and WindowExec computes the
    per-window min JVM-side after one (id, pos) sort. The
    full-window-only bound rides along as a pre-explode gram count
    (``_n``), so the plan has a SINGLE window expression — round 3
    computed ``max(_pos)`` with a second unbounded frame over the same
    sort, an entire extra WindowExec pass for a value already known
    before the explode.

    Scale: one shuffle on id (the window partition); fingerprints
    travel as 8-char strings; no cross product. Docs shorter than
    ``k + w - 1`` words have no full window and drop out.

    Measured dead end (round 4): a shuffle-free all-in-array
    formulation — ``transform(sequence(...), i -> array_min(slice(
    hashes, i, w)))`` + ``array_distinct`` — produces the identical
    relation with ZERO exchanges but runs ~300x slower at sf0.1
    (360 s vs 0.8-1.2 s): each interpreted ``slice`` materializes a
    fresh w-element array per position, and higher-order-function
    evaluation is per-element interpreted. The explode → codegen md5 →
    single WindowExec shape stays the design; its one id-shuffle is
    the cheapest correct plan found.
    """
    from pyspark.sql import Window as W

    toks = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    )
    grams = toks.where(F.size("_ws") >= k + w - 1).select(
        F.col(id_col),
        (F.size("_ws") - (k - 1)).alias("_n"),
        F.posexplode(shingles(F.col("_ws"), k)).alias("_pos", "_g"),
    )
    hashed = grams.select(
        F.col(id_col), "_n", "_pos",
        F.substring(F.md5("_g"), 1, 8).alias("_h"),
    )
    wmin = (
        W.partitionBy(id_col).orderBy("_pos")
        .rowsBetween(W.currentRow, w - 1)
    )
    return (
        hashed.select(
            F.col(id_col), "_n", "_pos",
            F.min("_h").over(wmin).alias("fp"),
        )
        # full windows only: starts 0 .. m-w (posexplode is 0-based,
        # m = _n grams per doc)
        .where(F.col("_pos") <= F.col("_n") - w)
        .select(F.col(id_col), "fp")
        .distinct()
    )


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Per-cluster representative selection — the step after
    ``connected_components`` in a real corpus dedup: instead of
    blindly keeping each cluster's min id, keep its BEST member
    (highest score, ties broken by min id so the choice is
    deterministic). Output (cluster_id, rep_doc_id, score, n_members).

    Scale: an equi-join on id (clusters are tiny relative to the
    corpus — only near-dup members appear) followed by ONE window pass
    partitioned by cluster; rows carry (ids, one double). Cluster
    sizes are bounded by the upstream verify threshold, so no hot
    partition: a pathological million-member cluster would mean the
    Jaccard cut admitted a near-identical crowd, and the idf-style
    answer is tightening the threshold, not re-sharding this select.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col)
    )
    joined = clusters.join(scores, id_col)
    return (
        joined.select(
            F.col(cluster_col), F.col(id_col), F.col(score_col),
            F.row_number().over(w).alias("_rk"),
            F.count("*").over(W.partitionBy(cluster_col)).alias("n_members"),
        )
        .where(F.col("_rk") == 1)
        .select(
            cluster_col,
            F.col(id_col).alias("rep_doc_id"),
            score_col,
            "n_members",
        )
    )


def contamination_pairs(
    fps: DataFrame,
    eval_pred,
    max_fp_df: int,
    min_shared: int,
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Train/eval contamination pairs over a (id, fingerprint)
    relation: rows whose ``eval_pred`` holds form the held-out side;
    report (train_id, eval_id, n_shared) for every pair sharing ≥
    ``min_shared`` fingerprints, after dropping fingerprints present
    in more than ``max_fp_df`` documents (the idf cut — it de-noises
    the report AND bounds the fp-join fan-out to ≤ max_fp_df² rows per
    fingerprint, the skew guard that keeps this an equi-join at corpus
    scale: a boilerplate fingerprint shared by a million docs must
    never become a join key)."""
    # ONE shuffle on fp does everything the old agg→join-back→self-join
    # chain did in four: the same aggregation that counts a
    # fingerprint's document frequency collects its train and eval
    # member lists, the df cut filters the group, and the train×eval
    # expansion is a local double explode bounded by max_fp_df per
    # side — identical pair set, measured 1.7→0.9 s at sf0.1 (and two
    # fewer fp-keyed exchanges at any scale; the skew bound is
    # unchanged because the df cut still caps every group pre-explode).
    per_fp = (
        fps.groupBy(fp_col)
        .agg(
            F.collect_list(
                F.when(~eval_pred, F.col(id_col))
            ).alias("_train_ids"),
            F.collect_list(
                F.when(eval_pred, F.col(id_col))
            ).alias("_eval_ids"),
            F.count("*").alias("_df"),
        )
        .where(F.col("_df") <= max_fp_df)
    )
    pairs = per_fp.select(
        F.explode("_train_ids").alias("train_id"), "_eval_ids"
    ).select("train_id", F.explode("_eval_ids").alias("eval_id"))
    return (
        pairs.groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    cluster step that turns pairwise near-duplicates into dedup
    GROUPS (keep one doc per component, not one per pair): iterative
    min-label propagation to a driver-checked fixpoint. Output
    (node, cluster_id) where cluster_id is the component's minimum
    node id; only nodes appearing in ``pairs`` are emitted (isolated
    docs are their own trivial cluster by definition).

    Execution shape: each iteration is one keyed aggregation over the
    symmetrized edge list joined to current labels (two shuffles on
    node id), converging in ≤ component-diameter iterations. Measured
    diameters vary by graph: text near-dup components are clique-dense
    (2-3 iterations) but the embedding similarity graph at sf0.1
    chains to 16 — so per-iteration cost matters. The per-iteration
    checkpoint is LAZY (eager=False): the convergence probe's
    aggregation doubles as the materializing action, one job per
    iteration instead of two (measured 7.4 → 4.7 s on the
    16-iteration graph). Pointer jumping (label ← label-of-label,
    O(log d) rounds) is a measured dead end at this scale: the extra
    self-join per iteration costs more than the iterations it saves
    (16 iters / 4.7 s plain vs 10 iters / 6.1 s jumped, identical
    output). Like k-means (`operators/kmeans.py`), the driver holds
    only the loop CONTROL (one scalar per iteration); labels and
    edges never leave the executors — the standard iterate-to-
    fixpoint shape for graph algorithms on Spark. ``localCheckpoint``
    truncates each iteration's lineage so the plan doesn't grow with
    iterations.

    Determinism: min-label is order-independent; the fixpoint is the
    unique transitive closure — bit-exact against the oracle's
    recursive CTE regardless of execution order.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    # NOTE (round-10 measured dead end): pre-partitioning the edge
    # list by src before the checkpoint does NOT help — the
    # per-iteration join BROADCASTS the (node, label) relation at
    # bench scale (the edge list is never shuffled in the loop), so
    # the extra up-front exchange is pure cost (isolated A/B on the
    # 16-iteration embedding graph: 9.8 s plain vs 11.4 s
    # repartitioned). The loop's real per-iteration price is the
    # labels broadcast + the convergence-probe job; at cluster scale
    # labels outgrow the broadcast threshold and the join becomes a
    # co-partitioned SMJ on its own.
    edges_sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges_sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = (
            edges_sym.join(labels, edges_sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("_nbr"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_nbr", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # labels can only DECREASE, so the total strictly drops on any
        # change — one aggregation over the just-checkpointed frame
        # replaces a join + count as the convergence probe
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — component diameter exceeds the bound"
        )
    return labels.select(
        F.col("node"), F.col("label").alias("cluster_id")
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Exact n-gram-set Jaccard for candidate pairs (the LSH verify
    stage). Joins the (small) candidate set back to the corpus twice;
    at scale both joins are shuffle-hash on doc id, and the Jaccard is
    a per-row array expression (codegen, no UDF)."""
    sh = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles(F.col("_ws"), shingle_n)).alias("_s"),
    )
    out = (
        _spread(pairs)
        .join(sh.withColumnRenamed(id_col, "id_a")
                .withColumnRenamed("_s", "_sa"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed("_s", "_sb"), "id_b")
    )
    # hash-based set intersection (O(n+m)); inputs are distinct arrays,
    # so the count equals the oracle's list_filter/list_contains scan
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    n_union = F.size("_sa") + F.size("_sb") - n_inter
    jac = F.when(n_union > 0, n_inter.cast("double") / n_union.cast("double"))
    return out.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def containment_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Exact n-gram-set CONTAINMENT for candidate pairs — the
    ASYMMETRIC twin of ``jaccard_verify``: |A∩B| / min(|A|, |B|),
    i.e. how much of the SMALLER document's shingle set the pair
    shares. This is the superstring/substring dedup signal: a short
    document pasted inside a long one scores near 1.0 here while its
    symmetric Jaccard (÷ the union) stays low, so a Jaccard-only
    pipeline keeps both copies. Same plan shape as the Jaccard
    verify (candidates joined back to the corpus twice, shuffle-hash
    on doc id at scale, per-row array expression — codegen, no UDF).

    Output per candidate pair: (contained_doc_id, container_doc_id,
    containment_micros) where contained = the smaller-set side (tie
    → the HIGHER doc_id, so the container keeps the canonical-min-id
    convention of the dedup family). Containment ships as EXACT
    INTEGER MICROS via half-away-from-zero integer division — the
    round-10 tie lesson (``unigram_logprob`` precedent): set sizes
    are small integers, so the raw ratio CAN land on a true 6-dp
    decimal tie (e.g. 1/640 = 0.0015625) where Spark's round() and
    DuckDB's disagree; ``(2·10⁶·inter + nmin) div (2·nmin)`` is
    deterministic on any engine, and thresholds compare integers."""
    sh = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles(F.col("_ws"), shingle_n)).alias("_s"),
    )
    out = (
        _spread(pairs)
        .join(sh.withColumnRenamed(id_col, "id_a")
                .withColumnRenamed("_s", "_sa"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed("_s", "_sb"), "id_b")
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    n_a, n_b = F.size("_sa"), F.size("_sb")
    n_min = F.least(n_a, n_b)
    micros = F.expr(
        "(2000000 * cast(_ni as bigint) + cast(_nm as bigint)) "
        "div (2 * cast(_nm as bigint))"
    )
    # the smaller-set side is the contained one; equal sizes break
    # toward the higher id so the container is the canonical min id
    a_contained = (n_a < n_b) | ((n_a == n_b) & (F.col("id_a") > F.col("id_b")))
    return (
        out.withColumn("_ni", n_inter).withColumn("_nm", n_min)
        .where(F.col("_nm") > 0)
        .select(
            F.when(a_contained, F.col("id_a")).otherwise(F.col("id_b"))
             .alias("contained_doc_id"),
            F.when(a_contained, F.col("id_b")).otherwise(F.col("id_a"))
             .alias("container_doc_id"),
            micros.alias("containment_micros"),
        )
    )


def triangle_stats(edges: DataFrame,
                   a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """GRAPH STATISTICS of an undirected edge list (canonical a < b,
    duplicates tolerated): node/edge counts, wedge (open-triple)
    count, triangle count, and the global clustering coefficient
    3·T/W — the structural summary a dedup pipeline reads off its
    similarity graph (near-clique components ⇒ true duplicate sets;
    low clustering ⇒ chains of borderline matches that transitive
    closure would over-merge).

    Triangle counting uses DEGREE-ORDERED ORIENTATION (the standard
    distributed algorithm — e.g. Suri & Vassilvitskii's MR-count):
    each edge is directed from its lower-(degree, id) endpoint to the
    higher, wedges are enumerated only at each triangle's minimum
    vertex, and every out-degree is O(√m) — so the wedge join's
    fan-out is bounded regardless of hub skew, where naive id-ordered
    orientation lets one low-id hub generate deg² wedge candidates.
    Plan: two self-joins on node keys (wedge build, then closing-edge
    semi join) plus one degree aggregation — no cartesian anywhere.

    Output: 1 row (n_nodes, n_edges, n_wedges, n_triangles,
    clustering_coeff). The edge list is checkpointed EAGERLY because
    the concurrent jobs of the one AQE query share it (see
    ``pagerank``)."""
    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint()   # reused 4× below
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
    )
    # orient: src = endpoint with smaller (deg, id)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    keyed = e.join(da, "a").join(db, "b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # wedges at the minimum vertex: pairs of out-neighbors of src
    o1 = oriented.select("src", F.col("dst").alias("v"))
    o2 = oriented.select("src", F.col("dst").alias("w"))
    wedge = o1.join(o2, "src").where(F.col("v") < F.col("w")).select(
        F.col("v").alias("a"), F.col("w").alias("b")
    )
    tri = wedge.join(e, ["a", "b"]).agg(
        F.count("*").alias("n_triangles")
    )
    summary = e.agg(F.count("*").alias("n_edges")).join(
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.expr("deg * (deg - 1) / 2")).cast("long")
             .alias("n_wedges"),
        )
    ).join(tri)
    return summary.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(3 * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).otherwise(F.lit(0.0)).alias("clustering_coeff"),
    )


def pagerank(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PAGERANK over an undirected pair graph (treated bidirected) —
    the importance measure a dedup pipeline reads off its similarity
    graph (a high-rank member of a near-dup cluster is the "most
    connected" representative candidate; the triangle/clustering twin
    of this is ``triangle_stats``). Fixed ``iters`` SYNCHRONOUS
    iterations from the uniform vector — deterministic by
    construction, so the whole computation hash-oracles against an
    unrolled SQL replay (the k-means unrolled-CTE recipe).

    Cross-engine float discipline: per-edge contributions round to
    12 dp and sum in exact DECIMAL (order-independent — a plain
    double sum would vary with partitioning), and each iteration's
    rank rounds to 9 dp before feeding the next; every remaining
    operation is the identical IEEE expression in both engines.
    Every node of the symmetrized graph has degree ≥ 1, so there is
    no dangling-mass term.

    Plan per iteration: one join (ranks ⋈ out-edges on src) + one
    keyed aggregation on dst — the standard mass-passing shape; at
    ``iters`` = 3 the chain stays one lazy plan (no checkpoint
    needed; the components loop's lineage concern starts an order of
    magnitude deeper).

    The symmetrized edge list is checkpointed EAGERLY: one AQE query
    runs its broadcast and shuffle jobs concurrently over it, and a
    lazy checkpoint completed by one job clears the RDD's lineage
    while another job's submission walks it (``RDD.dependencies()``
    returns null inside the DAGScheduler)."""
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            edges.select(F.col(b_col).alias("src"),
                         F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()      # reused iters+1 times
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("_deg"))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    n_nodes = F.broadcast(nodes.agg(F.count("*").alias("_n")))
    ranks = nodes.join(n_nodes).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            sym.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("_deg"), 12).alias("_c"),
            )
        )
        gathered = contrib.groupBy("dst").agg(
            F.sum(F.col("_c").cast("decimal(28,15)")).cast("double")
             .alias("_s")
        )
        ranks = gathered.join(n_nodes).select(
            F.col("dst").alias("node"),
            F.round(
                (1 - damping) / F.col("_n") + damping * F.col("_s"), 9
            ).alias("rank"),
        )
    return ranks


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    src_col: str = "node",
    max_depth: int = 10,
) -> DataFrame:
    """Multi-source BFS over an undirected pair graph: the hop
    distance from each node to its NEAREST source (unweighted
    shortest path), up to ``max_depth``. The dedup reading: distance
    from a cluster's canonical member = how many near-dup hops
    removed a document is — depth-2+ members are transitive-only
    matches worth human review before deletion.

    Execution: level-synchronous frontier expansion — iteration ``d``
    joins the current frontier to the symmetrized edge list and
    anti-joins already-visited nodes (each node is labeled exactly
    once, at its first reach, which IS its minimum distance; no
    re-visits, so total work is O(E · 1), not O(E · depth)). Driver
    holds only the loop control (frontier count); the same
    iterate-to-fixpoint shape as ``connected_components`` with the
    same lazy localCheckpoint per level. Deterministic: the (node,
    dist) relation of BFS is unique regardless of execution order.

    The symmetrized edge list and the sources are checkpointed
    EAGERLY: the concurrent jobs of one level's AQE query share them,
    which a lazy checkpoint cannot survive (see ``pagerank``)."""
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            edges.select(F.col(b_col).alias("src"),
                         F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    visited = sources.select(
        F.col(src_col).alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint()
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(
                sym, frontier["node"] == sym["src"]
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(d).alias("dist"))
            .localCheckpoint(eager=False)
        )
        # ONE job per level (round-5 advice; the connected_components
        # probe recipe): the full count materializes nxt's checkpoint
        # AND decides termination — the old limit(1).count() probe
        # was a second action per level. visited stays a plain union
        # of already-materialized checkpoints (each leaf is a
        # checkpointed RDD scan), so plan depth is one union node per
        # level with no per-level re-checkpoint I/O of the whole
        # visited set.
        if nxt.count() == 0:
            break
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited

"""Similarity search over embedding columns (E3).

Embeddings are ``array<float>`` columns (64-dim here). Two paths:

- **Brute-force top-k**: exact cosine against a query vector with a
  broadcast literal — one scan, no shuffle, JVM-side ``zip_with`` +
  ``aggregate`` arithmetic in double. At 100 TB this is the map-side
  scoring stage; only the per-partition top-k survives to the driver
  (TakeOrderedAndProject), so the shuffle is k rows per partition.
- **Clustered ANN (IVF shape)**: assign vectors to centroids
  (broadcast), search only the closest cluster(s). Centroids here come
  from the ``label`` partition mean — a stand-in for k-means that keeps
  the operator deterministic; the probe/scoring machinery is the real
  thing.
- **Embedding-cosine near-dup**: pairwise cosine ≥ threshold inside
  blocking buckets — the embedding analogue of LSH-banded dedup.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from train_reports_etl_spark.driver import local_frame


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double, sequential order (bit-reproducible across
    engines for a fixed element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# NOTE: do NOT "optimize" the fold by unrolling it into a 64-term
# element_at sum — measured 12.0 s vs the fold's 2.7 s on a 571k-pair
# verify (the giant expression tree leaves whole-stage codegen and the
# per-element bounds/null checks cost more than the HOF loop). The
# lever that actually matters for the pair-verify stage is
# PARALLELISM: AQE coalesces the (id_a, id_b) candidate exchange to ~1
# partition (a few MB of longs), which serializes the compute-heavy
# fold — see the repartition in :func:`_verify_cosine_pairs`.


def sign_projections_pandas(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """All ``len(planes)`` hyperplane sign bits in ONE Arrow-batched
    numpy matmul: (id, bits array<int>).

    Why not expression-level dots: 16 interpreted ``aggregate`` folds
    per row measured 3.2 s on the sf0.1 bucket stage, and UNROLLING
    them into 64-term codegen sums backfired (the expression tree
    blows past the codegen method budget → interpreted fallback,
    10.8 s). A vectorized ``V @ P.T`` is ~0.3 s. numpy's pairwise
    summation can differ from a sequential fold in the last ulp, but
    only the SIGN is consumed — a flip needs |v·p| ≲ 1e-15 against
    O(1) projections, so cross-engine parity with the DuckDB fold
    oracle is safe in a way it would NOT be for an output float.

    The projection input goes through ``repartition_if_coarse``: the
    mapInPandas stage fuses into the scan, and on a single-row-group
    input every Arrow batch flows through ONE task (round-9 row-group
    audit: e2_rp_lsh_near_dup 60 s vs 30 s)."""
    import pandas as pd

    from train_reports_etl_spark.util import repartition_if_coarse

    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("bits", ArrayType(IntegerType(), False), False),
        ]
    )

    def run(batches):
        import numpy as np

        pt = np.asarray(planes, dtype=np.float64).T  # (dim, n_bits)
        for pdf in batches:
            v = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            bits = (v @ pt >= 0.0).astype("int32")
            yield pd.DataFrame({"id": pdf[id_col], "bits": list(bits)})

    return repartition_if_coarse(
        df.select(F.col(id_col), F.col(vec_col)), min_rows=10_000
    ).mapInPandas(run, out_schema)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E3 — exact brute-force top-k by cosine to ``query_vec``.

    The query vector is a literal array (broadcast by value). Ordering
    ties break on id so results are total-ordered and reproducible.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def label_centroids(df: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label mean vector (IVF coarse quantizer stand-in).

    ``posexplode`` + groupBy(label, pos) + avg keeps everything in
    built-in aggregates; result is tiny (n_labels × dim) → broadcast.
    """
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    per_dim = exploded.groupBy(label_col, "pos").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.col(label_col), F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def ivf_topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """E3 — IVF-style ANN: score centroids against the query, keep the
    ``n_probe`` nearest clusters, brute-force only inside them.

    With partition-by-cluster storage this becomes partition pruning —
    the scan itself skips the other clusters; here the cluster filter
    is a broadcast semi-join, the distributed equivalent.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cents = label_centroids(df, vec_col, label_col)
    probe = (
        cents.select(F.col(label_col), cosine(F.col("centroid"), q).alias("csim"))
        .orderBy(F.desc("csim"), F.col(label_col))
        .limit(n_probe)
        .select(label_col)
    )
    pruned = df.join(F.broadcast(probe), label_col, "left_semi")
    return topk_cosine(pruned, query_vec, k, id_col, vec_col)


def random_hyperplanes(dim: int, n_bits: int, seed: int = 0x5E) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH, rounded to 6
    decimals so the identical literals embed in oracle SQL (both
    engines parse the same decimal → the same double → the same sign)."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_bits)
    ]


def rp_lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sign-random-projection LSH: bit_h = (v · r_h ≥ 0); bits are
    banded ``band_bits`` at a time into integer bucket keys. Output:
    (id, band, bucket) — one row per band, ready for the bucket join.

    Cosine-similar vectors agree on each bit with probability
    1 − θ/π, so near-dup pairs collide in ≥1 band with high
    probability while the bucket join never materializes the full
    pair space (same shape as MinHash-LSH banding for Jaccard).

    Projections run as one Arrow-batched numpy matmul (see
    :func:`sign_projections_pandas` for why expression-level dots
    lose here); banding the resulting bit array back into bucket keys
    is cheap codegen arithmetic.
    """
    proj = sign_projections_pandas(df, planes, id_col, vec_col)
    if keep_cols:
        proj = proj.join(
            df.select(F.col(id_col).alias("id"), *keep_cols), "id"
        )
    n_bands = len(planes) // band_bits
    bands = F.array(
        *[
            sum(
                (
                    F.element_at("bits", b * band_bits + i + 1) * (1 << i)
                    for i in range(band_bits)
                ),
                F.lit(0),
            )
            for b in range(n_bands)
        ]
    )
    return proj.select(
        "id",
        *[F.col(c) for c in keep_cols],
        F.posexplode(bands).alias("band", "bucket"),
    )


def _bucket_pair_candidates(
    b: DataFrame,
    keys: list[str],
    max_pairs: int | None,
    caller: str,
    dedup_cands: bool = True,
) -> DataFrame:
    """Bucketed self-join candidate generation with the round-8
    output-saturation guard (shared with
    ``dedup.simhash_near_duplicates`` — same estimate, same degrade).

    ``b`` must carry an ``id`` column; ``keys`` are the bucket/block
    join keys. When ``max_pairs`` is set and the Σ C(m,2) estimate
    (one #buckets-group aggregate) exceeds it, candidates degrade to
    each member's ``width`` rank-successors per bucket under the id
    order — a deterministic bounded sample instead of an OOM on a
    densifying geometry — and the decision is logged with the
    estimate. ``dedup_cands``: the multi-band LSH callers need a
    distinct (a pair can collide in several bands); the single-block
    exact path does not (one row per id per block), and the degraded
    path always dedups (ranks pair once per bucket, and a pair may
    appear in several buckets)."""
    import logging

    from train_reports_etl_spark.extensions.dedup import (
        _neighbor_window_candidates,
        bucket_pair_estimate,
    )

    if max_pairs is not None:
        est, total = bucket_pair_estimate(b, keys)
        if est > max_pairs:
            width = max(1, min(64, int(max_pairs) // max(1, total)))
            logging.getLogger(__name__).warning(
                "%s output saturated: ~%.2e candidate pairs over budget "
                "%.1e — degrading to the deterministic rank-window sample "
                "(width=%d per bucket, output <= %d rows)",
                caller,
                float(est),
                float(max_pairs),
                width,
                total * width,
            )
            return (
                _neighbor_window_candidates(b, keys, ["id"], width, {"id": "id"})
                .filter(F.col("id_a") != F.col("id_b"))
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
                .distinct()
            )
    cand = (
        b.alias("x")
        .join(b.alias("y"), keys)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    )
    return cand.distinct() if dedup_cands else cand


def rp_lsh_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """E2/E3 — embedding near-dup WITHOUT a blocking column: candidate
    pairs collide in ≥1 LSH band, then exact cosine verifies.

    The label-free scale path: ``cosine_near_duplicates`` needs a
    cluster/label column to bound the pair space; this bounds it by
    the data's own geometry. Shuffles one row per (vector, band) keyed
    by (band, bucket) — skew only if many vectors share a bucket,
    i.e. when they genuinely are near-duplicates.

    Pass ``dim`` explicitly (the caller knows the embedding width);
    the ``first()`` fallback costs a driver-side probe job per call.

    ``max_pairs``: output-saturation guard (see
    :func:`_bucket_pair_candidates`) — on densifying geometries where
    the TRUE near-pair set goes quadratic (the x30 probe's rp_lsh grew
    output 99× per 10×), the candidate estimate trips the budget and
    the query returns a deterministic bounded neighbor sample plus a
    logged estimate instead of materializing ~n² verified pairs. The
    default keeps every committed corpus and probe point (≤ ~7e6
    candidates at x30) on the exact path. ``None`` disables.
    """
    if n_bits % band_bits:
        raise ValueError(f"n_bits={n_bits} must be divisible by band_bits={band_bits}")
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_bits)
    # checkpoint the bucket table before the self-join: it is tiny
    # (n_vectors × n_bands rows of three ints) and both join sides
    # would otherwise re-run the Python projection stage.
    b = rp_lsh_buckets(df, planes, band_bits, id_col, vec_col).localCheckpoint(
        eager=True
    )
    cand = _bucket_pair_candidates(
        b, ["band", "bucket"], max_pairs, "rp_lsh_near_duplicates"
    )
    return _verify_cosine_pairs(df, cand, threshold, id_col, vec_col)


def _verify_cosine_pairs(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine verification of a candidate-pair table.

    Norms once per VECTOR, not per pair: cosine = dot/(n_a·n_b) is
    bit-identical to the inline form (same sqrt factors), but the
    verify stage drops from 3 interpreted array folds per candidate
    pair to 1. The fold stays sequential — the cosine is an OUTPUT
    value, so unlike the sign bits it must match the oracle's
    sequential list fold bit-for-bit.

    The candidate table is round-robin repartitioned first: it is a
    few MB of id pairs, so AQE's post-shuffle coalescing packs it
    into one partition — right for byte-sized work, wrong for a stage
    whose cost is an interpreted 64-element fold PER ROW (measured
    single-task). The explicit exchange shuffles only ids and buys
    back full parallelism for the fold.

    The VECTOR side gets the same treatment via the conditional
    ``repartition_if_coarse``: the per-vector norm fold fuses into the
    scan, and on a single-row-group input that stage serialized
    (round-9 row-group audit: e2_cosine_near_dup 34 s vs 13.8 s, one
    task holding 98.6% of a 24 s stage). The guard is metadata-only
    and fires only on coarse scans, so a healthy multi-row-group input
    pays nothing extra before the keyed join shuffle."""
    from train_reports_etl_spark.util import repartition_if_coarse

    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    df = repartition_if_coarse(df, min_rows=10_000)
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    joined = cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")),
        "id_a",
    ).join(
        vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")),
        "id_b",
    )
    return (
        joined.withColumn(
            "cosine_sim", dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cosine_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    lsh_bits: int | None = None,
    band_bits: int = 4,
    dim: int | None = None,
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """E2/E3 — near-dup pairs by cosine ≥ threshold.

    ``max_pairs``: output-saturation guard, as in
    :func:`rp_lsh_near_duplicates` — fat blocks on a densifying
    geometry degrade to a deterministic bounded neighbor sample with a
    logged estimate instead of an OOM. ``None`` disables.

    ``block_col`` bounds the pair space (same-cluster blocking); pass
    None for exact all-pairs (quadratic — small tables only). The join
    itself shuffles both sides by the block key, so each executor sees
    only its bucket's cross product.

    **Scale path for fat blocks**: exact within-block is quadratic in
    block size — fine at 10³ vectors/label, a wall at 10⁸. Pass
    ``lsh_bits`` (e.g. 16) to band sign-RP-LSH *within* each block:
    candidates must collide on (block, band, bucket), so a fat block's
    pair space shrinks by the bucket factor while blocking semantics
    (never compare across blocks) are preserved, and the exact verify
    keeps precision at 1 — only recall is approximate (high for
    high-threshold dedup, the regime where fat blocks matter).
    """
    if lsh_bits:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        planes = random_hyperplanes(dim, lsh_bits)
        blk = block_col if block_col else id_col
        b = rp_lsh_buckets(df, planes, band_bits, id_col, vec_col, keep_cols=(blk,) if block_col else ())
        keys = ([blk] if block_col else []) + ["band", "bucket"]
        cand = _bucket_pair_candidates(
            b, keys, max_pairs, "cosine_near_duplicates[lsh]"
        )
        return _verify_cosine_pairs(df, cand, threshold, id_col, vec_col)
    # Exact within-block path: build the candidate PAIR-ID table first
    # (ids only), then verify through the shared repartition + fold
    # stage — the block join's output coalesces to ~1 partition under
    # AQE (tiny bytes), which would serialize the per-pair fold.
    #
    # The streamed side of the pair join is guarded: the ids side is
    # small, so Spark broadcasts one alias and streams the other
    # straight out of the scan — on a single-row-group input ONE task
    # then generates and shuffle-writes the ENTIRE pair table (round-9
    # row-group audit: a 23.7 s serialized stage, 91% in one task).
    # The guard shuffles only (id, blk) and fires only on coarse scans.
    from train_reports_etl_spark.util import repartition_if_coarse

    ids = repartition_if_coarse(
        df.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else [F.lit(0).alias("blk")]),
        ),
        min_rows=10_000,
    )
    cand = _bucket_pair_candidates(
        ids, ["blk"], max_pairs, "cosine_near_duplicates[exact]", dedup_cands=False
    ).select("id_a", "id_b")
    return _verify_cosine_pairs(df, cand, threshold, id_col, vec_col)


def _assign_matmul(df, cents_rows, id_col: str, vec_col: str) -> DataFrame:
    """Centroid assignment as one Arrow-batched numpy matmul per batch:
    D = −2·V·Cᵀ + |c|², argmin along k. ``cents_rows`` must be ordered
    by cid ascending so the first minimum is the cid tie-break. NaN
    distances are remapped to +inf before the argmin so a NaN centroid
    (or vector) component ranks LAST, matching Spark's NaN-sorts-
    greatest ordering in the fold path's MIN(struct) — numpy argmin
    alone would rank NaN FIRST and send every vector to the NaN
    centroid. See :func:`semdedup` for the cross-engine parity
    argument (and why the oracle-hashed gate query stays on the fold
    path).

    Callers must pre-filter NULL embeddings / null elements (as
    :func:`semdedup` does for both assign paths): ``np.asarray`` on a
    batch containing ``None`` builds an object array and the matmul
    raises — whereas the fold path would silently yield null distances
    — so unfiltered input would make the two paths diverge (crash vs
    assignment) instead of staying row-identical."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type, False),
            StructField("cluster", id_type, False),
        ]
    )
    spark = df.sparkSession
    if not cents_rows:
        # fold-path parity: no centroids -> empty assignment
        return local_frame(spark, [], out_schema)
    cids = [r["cid"] for r in cents_rows]
    cvecs = [[float(x) for x in r["cvec"]] for r in cents_rows]

    def run(batches):
        import numpy as np

        ca = np.asarray(cvecs, dtype=np.float64)  # (k, dim)
        sq = (ca * ca).sum(axis=1)  # (k,)
        cid_arr = np.asarray(cids)  # id dtype preserved (long, str, ...)
        for pdf in batches:
            v = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            d = -2.0 * (v @ ca.T) + sq  # (n, k)
            d = np.where(np.isnan(d), np.inf, d)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cluster": cid_arr[d.argmin(axis=1)]}
            )

    # NO scan-fusion guard here (unlike sign_projections_pandas): the
    # assign inputs are DERIVED frames (post-filter/post-quantize)
    # whose row count the guard can't read from footers, so it fired
    # unconditionally and cost e3_kmeans_assign 2x at sf0.1 — and the
    # row-group audit never flagged any matmul-assign query (the numpy
    # batch is cheap enough per row that even a serialized 20k-vector
    # assign clears the ratio bound). If a future geometry serializes
    # here, tools/rowgroup_audit.py is the detector.
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(run, out_schema)


def semdedup(
    df: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "fold",
) -> DataFrame:
    """E3 — SemDeDup (Abbas et al. 2023): semantic dedup by clustering
    embeddings, then dropping within-cluster neighbors above a cosine
    threshold, keeping one representative per neighborhood.

    The quantizer is FIXED data points — the ``n_centroids`` lowest-id
    vectors act as centroids (the trained-artifact shape: at 100 TB the
    centroids come from a prior k-means fit, not from this query).
    Assignment is argmin of −2·v·c + |c|² with (distance, centroid-id)
    tie-break; within each cluster, any vector with a SMALLER-id
    neighbor at cosine ≥ ``threshold`` is dropped (the deterministic
    stand-in for the paper's "keep one random member").

    Returns the dropped rows: ``(id, cluster, kept_by, max_cos)``
    where ``kept_by`` is the smallest dominating neighbor id.

    Scale shape: within-cell pair cost is ∝ n²/k, the IVF bound, so a
    100 TB run wants k ∝ √n (bounded cells) — at which point the
    assignment stage's n·k fold dots dominate (measured x30/k=245:
    186 s with the codegen fold). ``assign="matmul"`` runs assignment
    as ONE Arrow-batched numpy ``V @ Cᵀ`` per batch (the
    :func:`sign_projections_pandas` precedent) — measured 186 →
    12.2 s at x30/k=245 (SCALING.md round-7 x30 section; identical
    output rows). Default stays ``"fold"``: the sequential fold is
    the bit-exact twin of the DuckDB oracle's list_reduce, while
    numpy's pairwise summation can differ in the last ulp. An argmin
    flip needs two DISTINCT centroids whose distances tie within
    ~1e-13 relative (exact-duplicate centroids — common in a dedup
    corpus — give bit-equal distances under ANY summation order and
    fall to the deterministic cid tie-break), so the matmul path is
    safe on real data but kept out of the oracle-hashed gate query;
    ``tests/test_round7_ops.py`` pins both paths equal on the
    committed corpus.
    """
    if assign not in ("fold", "matmul"):
        raise ValueError(f"assign must be 'fold' or 'matmul', got {assign!r}")
    # NULL embeddings (or vectors with null elements) are dropped UP
    # FRONT, for both paths identically: the fold path would tolerate
    # them (null distance → MIN(struct) still assigns) while the numpy
    # matmul path would crash on the object array np.asarray builds —
    # a crash-vs-result divergence. A null vector has no cosine to
    # anything, so it can neither dedup nor be deduped; dropping is
    # the only semantics both paths (and the DuckDB oracle) share.
    # Null-free corpora (the gate tables) are byte-unaffected.
    df = df.filter(
        F.col(vec_col).isNotNull() & ~F.exists(vec_col, lambda x: x.isNull())
    )
    # The n_centroids LOWEST-id vectors — not "ids < n_centroids",
    # which silently yields zero centroids (and an empty result) when
    # the id space is not 0-based. orderBy+limit is a
    # TakeOrderedAndProject of k tiny rows feeding a broadcast.
    cents = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_centroids)
    )
    if assign == "matmul":
        # k-bounded collect feeding every Arrow batch; cents is ordered
        # by cid ascending, so numpy argmin's first-minimum IS the cid
        # tie-break.
        assigned = _assign_matmul(df, cents.collect(), id_col, vec_col)
    else:
        sq_c = F.aggregate(
            F.transform("cvec", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dist = (
            df.select(F.col(id_col), F.col(vec_col))
            .crossJoin(F.broadcast(cents))
            .withColumn("d", -2.0 * dot(F.col(vec_col), F.col("cvec")) + sq_c)
        )
        # argmin via MIN(struct(d, cid)) — lexicographic struct ordering
        # IS the (distance, centroid-id) tie-break, and an aggregate gets
        # map-side partial combine: the exchange carries ONE (id, d, cid)
        # row per vector per map partition instead of the row_number
        # window's k rows per vector WITH both 64-float vectors attached
        # (measured at x30/k=245: the window form shuffled ~n·k·2·64
        # floats and walled 203 s; this form makes assignment cost flat
        # in k for the exchange, linear in k only for the codegen fold).
        assigned = (
            dist.select(F.col(id_col), F.struct("d", "cid").alias("dc"))
            .groupBy(id_col)
            .agg(F.min("dc").alias("m"))
            .select(F.col(id_col), F.col("m.cid").alias("cluster"))
        )
    # Norms fold ONCE per vector (not per pair): inside a cell of m
    # vectors each side's norm would otherwise re-fold m-1 times.
    # Persisted: the id-pair branches and both vector-attach joins all
    # read this (id, vec, cluster, nrm) table — without materialization
    # each branch re-runs the centroid cross-join + argmin window.
    # Lifecycle as in dedup.minhash_near_duplicates: the final (small)
    # result is eagerly checkpointed so the cache can be released
    # before returning.
    av = (
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned, id_col)
        .withColumn("nrm", l2_norm(F.col(vec_col)))
        .persist()
    )
    # Pair the cluster members as IDS first, then repartition before
    # attaching vectors for the fold: the cluster join's output is a
    # few MB, so AQE coalesces it to ~1 partition — fine for bytes,
    # serial for a stage whose cost is an interpreted 64-element fold
    # per pair (same fix as _verify_cosine_pairs).
    a = av.select("cluster", F.col(id_col).alias("id_a"))
    b = av.select("cluster", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    vecs = av.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"), "nrm")
    pairs = (
        cand.join(
            vecs.select(
                F.col("vid").alias("id_a"), F.col("vv").alias("v_a"), F.col("nrm").alias("n_a")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("vid").alias("id_b"), F.col("vv").alias("v_b"), F.col("nrm").alias("n_b")
            ),
            "id_b",
        )
        .withColumn("cos", dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cos") >= threshold)
    )
    dropped = pairs.groupBy(F.col("id_b").alias(id_col), "cluster").agg(
        F.min("id_a").alias("kept_by"),
        F.round(F.max("cos"), 6).alias("max_cos"),
    )
    out = dropped.localCheckpoint(eager=True)
    av.unpersist()
    return out


def standardize_embeddings(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E3/E6 — per-group embedding standardization (x − μ)/σ, the
    grouped-map Arrow path: each group's vectors arrive as ONE pandas
    DataFrame, stats and the transform run as numpy matrix ops, and
    only the standardized vectors return to the JVM.

    This is the batch `applyInPandas` counterpart of the streaming
    `applyInPandasWithState` operators: use it when the computation
    genuinely needs the whole group in memory at once (fitting
    per-group statistics) — per-row math belongs in codegen
    expressions, not here. Groups must fit in one worker's memory:
    acceptable for per-label/per-cluster normalization (bounded by the
    label histogram), wrong for a global group. σ guards to 1 where a
    dimension is constant (σ=0) so output stays finite."""
    import numpy as np
    import pandas as pd

    group_type = df.schema[group_col].dataType.simpleString()
    out_schema = f"{id_col} long, {group_col} {group_type}, {vec_col} array<double>"

    def _standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf[vec_col].to_numpy())          # (n, dim)
        mu = m.mean(axis=0)
        sigma = m.std(axis=0)
        sigma[sigma == 0.0] = 1.0
        z = (m - mu) / sigma
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                group_col: pdf[group_col].to_numpy(),
                vec_col: list(z),
            }
        )

    return df.select(id_col, group_col, vec_col).groupBy(group_col).applyInPandas(
        _standardize, schema=out_schema
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """E3 — per-vector scalar int8 quantization (the storage/bandwidth
    side of ANN at scale).

    A 100 TB float32 embedding store shrinks 4× as int8 with minimal
    recall loss; every production vector index (FAISS SQ8, ScaNN)
    ships this. Per-vector min/max scaling:

        q_d = floor((v_d − lo) · (levels−1) / (hi − lo)) − (levels÷2)

    so q ∈ [−127, 127] for levels=255 (hi maps to +127, lo to −127;
    constant vectors quantize to 0). floor of pure IEEE-double
    arithmetic is bit-identical across engines — the whole codebook is
    oracle-checkable, unlike anything involving libm.

    Plan shape: posexplode → per-id window min/max → scalar math, all
    codegen; one shuffle on the vector id. Output is the exploded
    codebook (vec_id, pos, q) — integers only.
    """
    ex = df.repartition(id_col).select(
        F.col(id_col).alias("vec_id"), F.posexplode(vec_col).alias("pos", "v")
    )
    ex = ex.withColumn("v", F.col("v").cast("double"))
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("vec_id")
    lo, hi = F.min("v").over(w), F.max("v").over(w)
    half = levels // 2
    q = (
        F.when(hi == lo, F.lit(0))
        .otherwise(
            F.floor((F.col("v") - lo) * F.lit(float(levels - 1)) / (hi - lo)) - half
        )
        .cast("int")
    )
    return ex.select("vec_id", F.col("pos").cast("int").alias("pos"), q.alias("q"))


# ------------------------------------------------------- E3 product quantization

def pq_codebooks(
    m: int = 4, sub_dim: int = 16, k: int = 4, seed: int = 101
) -> list[list[list[float]]]:
    """Deterministic literal PQ codebooks: ``m`` subspaces × ``k``
    centroids × ``sub_dim`` dims (the trained-artifact stand-in, same
    rationale as ``_kmeans_literal_centroids``: at 100 TB the codebooks
    come from a prior sub-space k-means fit over a sample, fixed at
    encode/query time). 6-dp literals round-trip exactly through both
    engines' SQL text."""
    rng = random.Random(seed)
    return [
        [[round(rng.uniform(-1, 1), 6) for _ in range(sub_dim)] for _ in range(k)]
        for _ in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E3 — PQ encoding (Jégou et al. 2011): each vector becomes ``m``
    small integer codes, the argmin centroid per subspace under
    squared L2 (−2·v·c + |c|², ties to the lowest index — the same
    metric/tie-break ``kmeans_assign`` uses). Output: (id, code_0..).

    Scale shape: a narrow projection — m bytes per vector instead of
    d floats (64-dim float32 → 4 codes is 64× smaller), computed in
    one codegen'd pass with zero shuffles; the code table is what a
    100 TB ANN index stores and scans. Sequential-fold dot products
    keep every distance bit-identical to the SQL oracle."""
    cols = [F.col(id_col)]
    for s, book in enumerate(codebooks):
        sub_dim = len(book[0])
        sub = F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
        dists = []
        for c in book:
            lit = F.array(*[F.lit(float(x)) for x in c])
            sq = 0.0
            for x in c:
                sq += x * x
            dists.append(-2.0 * dot(sub, lit) + F.lit(sq))
        arr = F.array(*dists)
        code = (F.array_position(arr, F.array_min(arr)) - 1).cast("int")
        cols.append(code.alias(f"code_{s}"))
    return df.select(*cols)


def pq_adc_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E3 — asymmetric-distance (ADC) top-k over PQ codes: the query
    stays un-quantized; per subspace a tiny lookup table (query-to-
    centroid distances, computed once driver-side over the literal
    codebooks) turns each stored code into a distance term, and the
    approximate distance is the sum of ``m`` table lookups — no
    per-row float folds at scan time, which is why PQ scans are
    memory-bandwidth-bound and 10-50× faster than exact distance at
    scale (pair with IVF cell pruning for the full FAISS IVFADC
    shape). Returns (id, codes..., approx_l2), ascending, ties by id;
    the top-k is TakeOrderedAndProject."""
    codes = pq_encode(df, codebooks, id_col, vec_col)
    adc: Column | None = None
    for s, book in enumerate(codebooks):
        sub_dim = len(book[0])
        q_sub = query_vec[s * sub_dim : (s + 1) * sub_dim]
        lut = []
        for c in book:
            acc = 0.0
            for x, y in zip(q_sub, c):
                acc += x * y
            sq = 0.0
            for x in c:
                sq += x * x
            lut.append(-2.0 * acc + sq)
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in lut]), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else adc + term
    return (
        codes.withColumn("approx_l2", adc)
        .orderBy("approx_l2", id_col)
        .limit(k)
    )

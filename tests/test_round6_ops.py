"""Micro-frame semantic pins for the round-6 subquery shapes: the
oracle gate proves engine parity on the synthetic tables; these pin
the INTENDED semantics on hand-built corners the synthetic data may
not exercise (ties, sole-late edge cases, null-fill, debounce chains).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_j14_sole_late_semantics(spark):
    """Only multi-supplier orders with EXACTLY one late supplier count,
    and only the late supplier is charged."""
    rows = [
        # order 1: two suppliers, one late -> supplier 11 charged
        (1, 11, 1),
        (1, 12, 0),
        # order 2: two suppliers, both late -> nobody charged
        (2, 11, 1),
        (2, 13, 1),
        # order 3: single supplier, late -> not multi-supplier, skipped
        (3, 11, 1),
        # order 4: supplier 11 late on one line, on time on another ->
        # still late for the order (MAX over lines)
        (4, 11, 0),
        (4, 11, 1),
        (4, 14, 0),
    ]
    flagged = (
        spark.createDataFrame(rows, "l_orderkey long, l_suppkey long, late int")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"))
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    sole = (
        flagged.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1) & (F.col("is_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    got = {r.l_suppkey: r.numwait for r in sole.collect()}
    assert got == {11: 2}  # orders 1 and 4; never orders 2 or 3


def test_j11_argmin_tie_breaks_on_suppkey(spark):
    """Equal unit prices pick the smaller suppkey, deterministically."""
    from pyspark.sql.window import Window

    rows = [(1, 20, 100, 10), (1, 10, 200, 20), (1, 30, 300, 10)]
    cost = spark.createDataFrame(
        rows, "l_partkey long, l_suppkey long, sum_cents long, sum_qty long"
    )
    # part 1: supp 20 at 10 c/u, supp 10 at 10 c/u, supp 30 at 30 c/u
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("sum_cents").cast("double") / F.col("sum_qty"), F.col("l_suppkey")
    )
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    assert [r.l_suppkey for r in best.collect()] == [10]


def test_u3_null_fill_marks_only_missing_side(spark):
    from train_reports_etl_spark.operators.union import union_all

    v1 = spark.createDataFrame([(1, "v1")], "k long, src string")
    v2 = spark.createDataFrame([(2, "v2", "extra")], "k long, src string, note string")
    merged = union_all([v1, v2], allow_missing_columns=True)
    rows = {r.src: r.note for r in merged.collect()}
    assert rows == {"v1": None, "v2": "extra"}


def test_w16_debounce_chain_keeps_each_reset(spark):
    """A chain of events each 20 s apart: every event bounces against
    its predecessor (lag is pairwise, not anchored to the first kept
    event) — the documented semantics, pinned so a future 'improvement'
    to anchored debouncing is a deliberate choice."""
    from pyspark.sql.window import Window

    base = 1_700_000_000_000_000  # micros
    rows = [(1, "view", base + i * 20_000_000, i) for i in range(4)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, us long, event_id long"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    seq = ev.select("us", F.lag("us").over(w).alias("prev_us"))
    bounce = F.col("prev_us").isNotNull() & ((F.col("us") - F.col("prev_us")) < 30_000_000)
    got = seq.agg(F.sum(F.when(bounce, 1).otherwise(0)).alias("n")).collect()[0].n
    assert got == 3  # all but the first bounce pairwise


def test_density_core_threshold_boundary(spark):
    """n_neighbors == minPts is a core; minPts - 1 is not."""
    cnt = spark.createDataFrame([(1, 3), (2, 2)], "vec_id long, n_neighbors int")
    out = cnt.select("vec_id", (F.col("n_neighbors") >= 3).alias("is_core"))
    got = {r.vec_id: r.is_core for r in out.collect()}
    assert got == {1: True, 2: False}


# ---- review-pass regressions: argument validation and robustness


def test_phash_max_hamming_validates_pigeonhole_bound(spark):
    import pytest

    from train_reports_etl_spark.extensions.multimodal import (
        documents_as_assets,
        phash_near_duplicates,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    assets = documents_as_assets(docs)
    with pytest.raises(ValueError, match="max_hamming=8"):
        phash_near_duplicates(assets, max_hamming=8)
    with pytest.raises(ValueError, match="max_hamming=-1"):
        phash_near_duplicates(assets, max_hamming=-1)


def test_simhash_max_hamming_validates_pigeonhole_bound(spark):
    import pytest

    from train_reports_etl_spark.extensions.dedup import simhash_near_duplicates

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming=4"):
        simhash_near_duplicates(docs, max_hamming=4)


def test_incremental_minhash_validates_band_divisibility(spark):
    import pytest

    from train_reports_etl_spark.extensions.dedup import (
        incremental_minhash_near_duplicates,
    )

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        incremental_minhash_near_duplicates(df, df, num_perm=32, bands=5)


def test_incremental_minhash_uses_one_sided_precomputed_signatures(spark):
    """Passing only corpus_signatures must be honored (the persisted-
    artifact workflow), not silently recomputed from raw text."""
    from train_reports_etl_spark.extensions.dedup import (
        incremental_minhash_near_duplicates,
        minhash_signatures,
    )

    body = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely different content about spark shuffles and joins " * 3
    new = spark.createDataFrame([(10, body)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, body), (2, other)], "doc_id long, text string"
    )
    osig = minhash_signatures(corpus, 32, "doc_id", "text", portable=False)
    got = {
        (r.new_doc, r.corpus_doc)
        for r in incremental_minhash_near_duplicates(
            new, corpus, corpus_signatures=osig
        ).collect()
    }
    assert got == {(10, 1)}
    # A wrong-content signature table must change the result — proves
    # the provided frame is actually consumed, not recomputed.
    fake = minhash_signatures(
        spark.createDataFrame([(1, other), (2, other)], "doc_id long, text string"),
        32,
        "doc_id",
        "text",
        portable=False,
    )
    got_fake = {
        (r.new_doc, r.corpus_doc)
        for r in incremental_minhash_near_duplicates(
            new, corpus, corpus_signatures=fake
        ).collect()
    }
    assert got_fake == set()


def test_semdedup_handles_non_zero_based_ids(spark):
    """Centroids are the n lowest-id vectors, not 'ids < n' — an id
    space starting at 1000 must still cluster and drop near-dups."""
    from train_reports_etl_spark.extensions.similarity import semdedup

    rows = []
    for i in range(8):
        v = [0.0, 0.0, 0.0, 0.0]
        v[i % 4] = 1.0 if i < 4 else -1.0
        rows.append((1000 + i, [float(x) for x in v]))
    rows.append((2000, [0.5, 0.5, 0.5, 0.5]))
    rows.append((2001, [0.501, 0.499, 0.5, 0.5]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semdedup(df, n_centroids=8, threshold=0.95).collect()}
    assert 2001 in out and out[2001].kept_by == 2000
    assert 2000 not in out


def test_pq_encode_and_adc_match_hand_math(spark):
    """PQ codes and ADC distances against hand-computed argmin/LUT
    values on a 2-subspace, 2-centroid toy codebook."""
    from train_reports_etl_spark.extensions.similarity import pq_adc_topk, pq_encode

    books = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 1.0], [-1.0, -1.0]],
    ]
    df = spark.createDataFrame(
        [(1, [1.0, 0.1, -1.0, -0.9]), (2, [0.0, 2.0, 1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    codes = {r.vec_id: (r.code_0, r.code_1) for r in pq_encode(df, books).collect()}
    # v1 sub0=[1,.1]: d(c0)=-2*1+1=-1 < d(c1)=-2*.1+1=.8 -> 0
    # v1 sub1=[-1,-.9]: d(c0)=-2*(-1.9)+2=5.8 > d(c1)=-2*1.9+2=-1.8 -> 1
    assert codes[1] == (0, 1)
    # v2 sub0=[0,2]: d(c0)=0+1=1 > d(c1)=-4+1=-3 -> 1
    # v2 sub1=[1,1]: d(c0)=-4+2=-2 < d(c1)=4+2=6 -> 0
    assert codes[2] == (1, 0)
    q = [1.0, 0.0, -1.0, -1.0]
    rows = pq_adc_topk(df, q, books, k=2).collect()
    # LUT sub0: c0: -2*1+1=-1, c1: 0+1=1 ; sub1: c0: -2*(-2)+2=6, c1: -2*2+2=-2
    # v1: lut0[0]+lut1[1] = -1 + -2 = -3 ; v2: lut0[1]+lut1[0] = 1+6 = 7
    assert [(r.vec_id, r.approx_l2) for r in rows] == [(1, -3.0), (2, 7.0)]


def test_last_touch_attribution_semantics(spark, tmp_path):
    """Hand-built corners: first-event purchase → 'direct'; credit
    reaches back past intervening purchases to the latest NON-purchase
    touch; later events never attribute backwards."""
    import datetime as dt

    from train_reports_etl_spark.extensions.ext_queries import (
        w17_last_touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: click → purchase → purchase  (both credit the click)
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "purchase", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "purchase", 1.0, "{}"),
        # user 2: purchase with no prior event → direct
        (4, t0, 2, "purchase", 1.0, "{}"),
        # user 2: view AFTER the purchase must not attribute backwards,
        # but credits the NEXT purchase
        (5, t0 + dt.timedelta(minutes=1), 2, "view", 1.0, "{}"),
        (6, t0 + dt.timedelta(minutes=2), 2, "purchase", 1.0, "{}"),
    ]
    d = tmp_path / "events.parquet"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(d.parent / "events.parquet"))
    got = {
        r.channel: r.n_purchases
        for r in w17_last_touch_attribution(spark, str(tmp_path)).collect()
    }
    assert got == {"click": 2, "direct": 1, "view": 1}


# ---- hamming_pairs_64 bucket schemes: the paired (2-of-8 chunk) key
# exists for the 100 TB quadratic-candidate problem; it must return
# EXACTLY the single-chunk pairs (both lossless for d <= 6), checked
# against a plain-Python brute force.


def _pseudo_hashes():
    """Deterministic 64-bit hashes with planted near-dup structure:
    20 md5-derived bases (sign bit exercised) + 2 mutants each at
    Hamming distance 1..6."""
    import hashlib
    import struct as _struct

    hashes = []
    for i in range(20):
        (base,) = _struct.unpack(
            ">q", hashlib.md5(f"hp64-{i}".encode()).digest()[:8]
        )
        hashes.append(base)
        for m in (1, 2):
            flips = {
                hashlib.md5(f"flip-{i}-{m}-{j}".encode()).digest()[0] % 64
                for j in range(3 * m)
            }
            mut = base
            for b in flips:
                mut ^= 1 << b
            mut &= (1 << 64) - 1  # wrap to signed int64 (bit-63 flips)
            if mut >= 1 << 63:
                mut -= 1 << 64
            hashes.append(mut)
    return [(idx, h) for idx, h in enumerate(hashes)]


def test_hamming_pair_schemes_agree_with_brute_force(spark):
    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64

    rows = _pseudo_hashes()
    mask = (1 << 64) - 1
    expected = {
        (ia, ib, bin((ha ^ hb) & mask).count("1"))
        for ia, ha in rows
        for ib, hb in rows
        if ia < ib and bin((ha ^ hb) & mask).count("1") <= 6
    }
    assert expected, "planted mutants must yield at least one pair"
    df = spark.createDataFrame(rows, "vid long, h long")
    got = {}
    for scheme in ("single", "paired", "auto"):
        got[scheme] = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_pairs_64(
                df, id_col="vid", hash_col="h", max_hamming=6, scheme=scheme
            ).collect()
        }
    assert got["single"] == expected
    assert got["paired"] == expected
    assert got["auto"] == expected  # auto resolves to paired at d<=6


def test_hamming_pair_scheme_validation(spark):
    import pytest

    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64

    df = spark.createDataFrame([(1, 5)], "vid long, h long")
    # paired is NOT lossless at d=7: refuse instead of silently dropping
    with pytest.raises(ValueError, match="paired"):
        hamming_pairs_64(df, id_col="vid", hash_col="h", max_hamming=7, scheme="paired")
    with pytest.raises(ValueError, match="unknown scheme"):
        hamming_pairs_64(df, id_col="vid", hash_col="h", scheme="triple")
    # auto at d=7 resolves to mih (round 7) and still runs
    assert (
        hamming_pairs_64(df, id_col="vid", hash_col="h", max_hamming=7).count() == 0
    )

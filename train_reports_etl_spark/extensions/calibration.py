"""E76 — distributed isotonic regression (score calibration).

Reference linkage: none — new scope beyond SURVEY.md §2.11. The
post-classifier step every quality-scored corpus needs: raw model
scores are not probabilities, and the standard fix is isotonic
regression (Zadrozny & Elkan KDD'02) — fit the best monotone
non-decreasing ŷ(score) in L2, then threshold/weight documents by the
CALIBRATED probability.

The classical fitter is PAV (pool-adjacent-violators), which is
inherently sequential. The distributed formulation used here is the
geometric equivalence (Robertson, Wright & Dykstra 1988, §1.2): the
weighted isotonic fit equals the left-derivative of the **greatest
convex minorant (GCM)** of the cumulative sum diagram
``P_b = (W_b, S_b)`` (cumulative weight, cumulative positives in
score order). The GCM is the LOWER CONVEX HULL of the points — and
convex hulls are **mergeable**: ``hull(A ∪ B) = hull(hull(A) ∪
hull(B))``, so each range bucket computes its own O(n) monotone
chain and only hull VERTICES travel upward. The same
decompose-combine trick the sketch family (E13/E15/E27/E35) uses,
applied to an optimization problem.

Exactness: hull turn tests are integer cross products in Python longs
(never floats), so the hull — and therefore each bin's covering
segment — is the true rational GCM. The fitted value leaves integer
space only in the final ``floor(1000 · Δpos/Δweight)`` — ONE IEEE
division of two longs, bit-identical across engines, which is what
lets the O(B²) minimax oracle (``max_{j≤b} min_{k≥b}`` of interval
means — the textbook identity for the same fit) hash-match exactly:
equal rationals round to equal doubles, and max/min commute with the
monotone rounding.

Scale shape (100 TB): stage 1 (score→bin aggregate) is the only
data-sized stage — map-side combinable, shuffle keyed on the bin.
Stage 2 cumsum uses the distributed_rank stitch (range buckets by
bin, per-bucket totals to the driver, windows only within buckets —
never a global single-partition window). Stage 3 ships per-bucket
hull vertices to the driver: bounded by the number of slope changes,
≤ bins, typically tiny; a pathological all-vertex corpus would use a
second tree level (re-hull groups of buckets) — same escalation as
graph.driver_union_find. Stage 4 broadcasts the final segments (a
handful of rows) back for a range join — a broadcast NLJ against a
literal-sized build side, the audited scalar-build class.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from train_reports_etl_spark.driver import local_frame


def _lower_hull(points: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Monotone-chain lower hull of (x, y) points sorted by x
    (strictly increasing x). Integer cross products in Python longs —
    exact for any cumulative-count magnitude. Collinear middle points
    are dropped (<= 0 test), keeping segments maximal."""
    hull: list[tuple[int, int]] = []
    for p in points:
        while len(hull) >= 2:
            ox, oy = hull[-2]
            ax, ay = hull[-1]
            # cross((a-o), (p-o)) <= 0  →  a is on/above chord o→p:
            # not a lower-hull vertex.
            if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                hull.pop()
            else:
                break
        hull.append(p)
    return hull


def _bucket_hull(pdf: pd.DataFrame) -> pd.DataFrame:
    pts = sorted((int(w), int(s)) for w, s in zip(pdf["hx"], pdf["hy"]))
    return pd.DataFrame(_lower_hull(pts), columns=["hx", "hy"])


def isotonic_calibration(
    bins: DataFrame,
    bin_col: str = "bin",
    weight_col: str = "w",
    pos_col: str = "pos",
    n_buckets: int = 32,
) -> DataFrame:
    """Weighted isotonic fit over pre-aggregated score bins.

    Input: one row per distinct score bin — ``(bin, w, pos)`` with
    integer weight (row count) and positives. Output: the input plus
    ``fitted_milli`` = floor(1000 · isotonic probability), monotone
    non-decreasing in ``bin`` by construction.
    """
    # Persisted for the fitter's lifetime: the quantile sample, the
    # hull collect and the final join otherwise each re-execute the
    # caller's data-sized bin aggregate (the E99/E128 rescan lesson;
    # r10). Released right after the hull collect — the returned lazy
    # frame recomputes the bins once, instead of 4 lineage replays.
    b = bins.select(
        F.col(bin_col).cast("long").alias("bin"),
        F.col(weight_col).cast("long").alias("w"),
        F.col(pos_col).cast("long").alias("pos"),
    ).persist()

    try:
        # ---- stage 2: distributed cumulative (W, S) in bin order ----
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = sorted(set(b.stat.approxQuantile("bin", qs, 0.001))) if qs else []
        bucket = F.lit(0)
        for c in cuts:
            bucket = bucket + (F.col("bin") > F.lit(c)).cast("int")
        wb = b.withColumn("__bucket", bucket)
        # Bucket totals → offsets via ONE tiny collect over the cached
        # bins + literal maps. r11 ROLLBACK of the r10 in-plan offset
        # fold for THIS operator (VERDICT r10 #2): the fold traded one
        # ~0.1 s collect-over-cache for a broadcast-build window chain
        # that appears in BOTH the hull plan and the returned join plan
        # — measured 14 → 18 AQE stage-jobs and a reproducible wall
        # regression in same-window r9-vs-r10 A/B (isolate_r11,
        # OPTIMIZATION_r11.md). The collect is ≤ n_buckets rows off the
        # persisted frame — exactly the driver traffic class of the
        # quantile cuts above. The ranking primitives keep the in-plan
        # fold: there the offsets feed ~20 call sites and the fold
        # removed an action per PASS, not per operator.
        totals = {
            r["__bucket"]: (r["tw"], r["tp"])
            for r in wb.groupBy("__bucket")
            .agg(F.sum("w").alias("tw"), F.sum("pos").alias("tp"))
            .collect()
        }
        off_w, off_s = {}, {}
        aw = as_ = 0
        for kk in range(len(cuts) + 1):
            off_w[kk], off_s[kk] = aw, as_
            tw, tp = totals.get(kk, (0, 0))
            aw += tw
            as_ += tp
        wmap = F.create_map(*[F.lit(x) for kv in off_w.items() for x in kv])
        smap = F.create_map(*[F.lit(x) for kv in off_s.items() for x in kv])
        win = (
            Window.partitionBy("__bucket")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = wb.select(
            "bin",
            "w",
            "pos",
            "__bucket",
            (wmap[F.col("__bucket")] + F.sum("w").over(win))
            .cast("long")
            .alias("cw"),
            (smap[F.col("__bucket")] + F.sum("pos").over(win))
            .cast("long")
            .alias("cs"),
        )

        # ---- stage 3: mergeable lower hull --------------------------
        spark = bins.sparkSession
        partial = (
            cum.select("__bucket", F.col("cw").alias("hx"), F.col("cs").alias("hy"))
            .groupBy("__bucket")
            .applyInPandas(lambda _, pdf: _bucket_hull(pdf), "hx long, hy long")
        )
        cand = [(int(r["hx"]), int(r["hy"])) for r in partial.collect()]
        hull = _lower_hull(sorted(set(cand) | {(0, 0)}))
    finally:
        b.unpersist()

    # ---- stage 4: segment slopes back onto bins ----------------------
    segs = [
        (w1, w2, s2 - s1, w2 - w1)
        for (w1, s1), (w2, s2) in zip(hull, hull[1:])
    ]
    seg_df = local_frame(spark, segs, "w_lo long, w_hi long, d_pos long, d_w long")
    fitted = F.floor(
        F.lit(1000) * (F.col("d_pos").cast("double") / F.col("d_w").cast("double"))
    ).cast("long")
    return (
        cum.join(
            F.broadcast(seg_df),
            (F.col("cw") > F.col("w_lo")) & (F.col("cw") <= F.col("w_hi")),
        )
        .select("bin", "w", "pos", fitted.alias("fitted_milli"))
    )

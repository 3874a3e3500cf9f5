"""Training-data evaluation & data-quality operators (E94–E129).

Reference linkage: none — new scope beyond SURVEY.md §2.11, the
eval/DQ half of an LLM-data pipeline: once a corpus is built (E1–E93),
the questions that remain are "is the scorer calibrated?", "how much
vocabulary is still unseen?", "does the retriever find the relevant
docs?", "do duplicate documents leak across CV folds?", "how much
compute does padding waste?", and "which rows are outliers under a
robust location/scale estimate?". Every operator follows the repo's
integer-exactness discipline (counts, ppm ratios by integer division,
literal constants for anything transcendental) so each is
strong-oracle-checkable.

Scale notes are per-function; the common shape is one data-sized
map-combinable aggregate followed by arithmetic on bounded rows
(bins, folds, ranks ≤ k, batches) — never a second pass over raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from train_reports_etl_spark.driver import bounded_collect, local_frame
from train_reports_etl_spark.util import sql_div

# Exact-integer χ² requires 10⁶·N⁵ ≤ 10³⁸ (the DECIMAL(38,0) ceiling):
# N ≤ ~2.5·10⁶; enforced at 2·10⁶ with margin. Module-level so tests
# can shrink it instead of building two million rows.
CHI2_N_BOUND = 2_000_000


def reliability_bins(
    events: DataFrame,
    n_bins: int = 10,
) -> DataFrame:
    """E94 — reliability diagram for a [0,1]-score against a binary
    outcome (Naeini et al. AAAI'15; Guo et al. ICML'17 popularized the
    ECE summary): bin rows by predicted confidence, compare each bin's
    mean confidence against its empirical accuracy. The score here is
    the deterministic value-proxy P(purchase) = min(value, $100)/$100
    (cents-capped — the same naive "value predicts conversion" scorer
    the isotonic fit E76 calibrates), outcome = event_type='purchase'.

    Integer-exact: confidence in ppm from exact cents, accuracy as one
    floor-div of counts, |gap| on integers. Output one row per
    non-empty bin: (bin, n, pos, conf_ppm, acc_ppm, gap_ppm).

    Scale: ONE map-combinable aggregate over ``n_bins`` keys — the
    aggregate state is the bin table; everything after runs on
    ≤ n_bins rows. Skew-immune (bins are bounded, giant bins are just
    bigger counts)."""
    conf = F.expr("least(cast(round(value * 100) as bigint), 10000) * 100")
    binned = events.select(
        conf.alias("conf_ppm"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    ).select(
        F.least(
            F.expr("conf_ppm div " + str(1_000_000 // n_bins)),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
        "conf_ppm",
        "pos",
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
        F.sum("conf_ppm").cast("long").alias("sum_conf"),
    )
    return per.select(
        "bin",
        "n",
        "pos",
        F.expr("cast(sum_conf div n as bigint)").alias("conf_ppm"),
        F.expr("cast((1000000 * pos) div n as bigint)").alias("acc_ppm"),
        F.expr(
            "cast(abs(sum_conf div n - (1000000 * pos) div n) as bigint)"
        ).alias("gap_ppm"),
    )


def expected_calibration_error(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """E94 — the ECE scalar over :func:`reliability_bins`:
    ECE_ppm = Σ_b n_b·gap_b div N, plus the max-gap (MCE) and the bin
    count, as one row. Integer arithmetic end-to-end; n·gap ≤
    n·10⁶ ≲ 2^63 to ~9·10¹² rows per bin — beyond that cast the
    product to decimal(38,0) (a4 discipline)."""
    bins = reliability_bins(events, n_bins)
    return bins.agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins_used"),
        F.expr("cast(sum(n * gap_ppm) div sum(n) as bigint)").alias("ece_ppm"),
        F.max("gap_ppm").cast("long").alias("mce_ppm"),
    )


def vocab_estimates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """E95 — unseen-vocabulary estimation per language: Good–Turing
    missing mass (Gale & Sampson 1995: the probability the NEXT token
    is a new type ≈ f1/N) and the Chao1 lower bound on total
    vocabulary size (Chao 1984: V + f1(f1−1)/(2(f2+1))), from the
    token-frequency count-of-counts. The corpus-planning question
    these answer at 100 TB: is tokenizer/vocab coverage saturating,
    or does the next shard still buy new types?

    Integer-exact: V, N, f1, f2 are counts; Chao1 reported ×1000 by
    one floor-div; coverage in ppm. Output per lang:
    (lang, n_tokens, v_observed, f1, f2, chao1_x1000, coverage_ppm).

    Scale: token explode → (lang, token) count (THE word-count
    shuffle, map-combinable) → per-lang count-of-counts fold (second
    tiny aggregate). The explode fuses into the scan, so the input
    passes through ``repartition_if_coarse`` (row-group audit
    discipline)."""
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    cnt = (
        docs.select("lang", F.explode(tokens(text_col)).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = cnt.groupBy("lang").agg(
        F.count("*").cast("long").alias("v_observed"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("f2"),
    )
    return per.select(
        "lang",
        "n_tokens",
        "v_observed",
        "f1",
        "f2",
        F.expr(
            "cast(1000 * v_observed"
            " + (1000 * f1 * (f1 - 1)) div (2 * (f2 + 1)) as bigint)"
        ).alias("chao1_x1000"),
        F.expr(
            "cast(1000000 - (1000000 * f1) div n_tokens as bigint)"
        ).alias("coverage_ppm"),
    )


def retrieval_mrr_recall(
    docs: DataFrame,
    terms: list[str],
    ks: tuple[int, ...] = (5, 10, 20),
    top_n: int = 20,
) -> DataFrame:
    """E96 — MRR and recall@k of the BM25 retriever, the set-based
    counterpart of the graded nDCG (E88): a document is RELEVANT when
    it contains at least one query term; MRR_ppm = 10⁶ div (rank of
    the first relevant result, 0 if none in the top-``top_n``);
    recall@k_ppm = 10⁶·(relevant in top k) div (relevant in corpus).
    Integer-exact (ranks, counts, floor-div) — strong oracle.

    Output one row per k: (k, n_rel_corpus, hits_at_k, recall_ppm,
    mrr_ppm) — mrr is k-independent and repeated for a flat schema.

    Scale: the cost IS the retrieval being evaluated (one BM25 pass);
    the eval adds one relevance scan (map-combinable count + the
    top-``top_n`` join) and arithmetic on ≤ top_n rows."""
    from train_reports_etl_spark.extensions.text import bm25_rank, tokens

    rel = docs.select(
        "doc_id",
        (
            F.size(
                F.array_intersect(
                    F.array_distinct(tokens("text")),
                    F.array(*[F.lit(t) for t in terms]),
                )
            )
            > 0
        ).alias("is_rel"),
    )
    n_rel = rel.agg(
        F.sum(F.col("is_rel").cast("long")).cast("long").alias("nr")
    )
    got = (
        bm25_rank(docs, terms, top_n=top_n)
        .select(F.col("rank").cast("long").alias("rank"), "doc_id")
        .join(rel, "doc_id")
        .filter("is_rel")
    )
    stats = got.agg(
        F.min("rank").alias("first_rel"),
        *[
            F.sum((F.col("rank") <= k).cast("long")).cast("long").alias(f"h{k}")
            for k in ks
        ],
    )
    kdf = local_frame(docs.sparkSession, [(k,) for k in ks], "k int")
    return (
        kdf.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_rel))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("nr").cast("long").alias("n_rel_corpus"),
            F.expr(
                "cast(coalesce(case "
                + " ".join(f"when k = {k} then h{k}" for k in ks)
                + " end, 0) as bigint)"
            ).alias("hits_at_k"),
            F.expr(
                # nullif + coalesce: a corpus with zero relevant docs
                # yields recall 0, not NULL (Spark) vs a division-by-
                # zero error (DuckDB) — the mrr_ppm sentinel pattern.
                "cast(coalesce((1000000 * coalesce(case "
                + " ".join(f"when k = {k} then h{k}" for k in ks)
                + " end, 0)) div nullif(nr, 0), 0) as bigint)"
            ).alias("recall_ppm"),
            F.expr(
                "cast(coalesce(1000000 div first_rel, 0) as bigint)"
            ).alias("mrr_ppm"),
        )
    )


def fold_leakage(
    docs: DataFrame,
    n_folds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E97 — cross-validation fold assignment with duplicate-leakage
    audit: hashing DOCUMENTS into folds puts copies of the same
    content on both sides of a train/eval split (the classic CV
    hygiene failure — for LLM corpora, eval contamination by
    near-copies); hashing GROUPS (here: exact-content fingerprint
    groups, the md5 canonical form) cannot. Both assignments are
    computed and audited side by side: for each duplicate group with
    m members split m_f per fold, the leaking pairs are
    C(m,2) − Σ_f C(m_f,2).

    The doc-level fold hashes md5(id || ':fold') — SALTED, the
    corpus-rehearsal lesson: an unsalted id hash correlates with any
    other stage that orders or buckets by the same hash. Output one
    row per method: (method, n_dup_groups, dup_pairs, leaking_pairs)
    — the group method's 0 is the pinned invariant.

    Scale: fingerprint groupBy is the E1 digest shuffle; the audit
    aggregates C(m,2) terms per group then sums — one extra tiny
    aggregate over dup groups only."""
    from train_reports_etl_spark.extensions.text import fingerprint_md5

    base = docs.select(
        F.col(id_col).alias("id"),
        fingerprint_md5(text_col).alias("fp"),
    ).withColumn(
        "doc_fold",
        F.expr(
            "(instr('0123456789abcdef', substring(md5(cast(id as string)"
            " || ':fold'), 1, 1)) - 1)"
        ).cast("long")
        % n_folds,
    )
    rep = base.groupBy("fp").agg(
        F.min("id").alias("rep_id"), F.count("*").cast("long").alias("m")
    )
    rep_fold = rep.withColumn(
        "group_fold",
        F.expr(
            "(instr('0123456789abcdef', substring(md5(cast(rep_id as string)"
            " || ':fold'), 1, 1)) - 1)"
        ).cast("long")
        % n_folds,
    )
    with_folds = base.join(
        rep_fold.select("fp", "m", "group_fold"), "fp"
    ).filter(F.col("m") > 1)

    def audit(fold_col: str, method: str) -> DataFrame:
        per_fold = with_folds.groupBy("fp", fold_col).agg(
            F.count("*").cast("long").alias("mf"),
            F.max("m").alias("m"),
        )
        per_group = per_fold.groupBy("fp").agg(
            F.max("m").alias("m"),
            F.sum(F.expr("(mf * (mf - 1)) div 2")).cast("long").alias("within"),
        )
        return per_group.agg(
            F.count("*").cast("long").alias("n_dup_groups"),
            F.coalesce(F.sum(F.expr("(m * (m - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("dup_pairs"),
            F.coalesce(
                F.sum(F.expr("(m * (m - 1)) div 2") - F.col("within")), F.lit(0)
            )
            .cast("long")
            .alias("leaking_pairs"),
        ).select(F.lit(method).alias("method"), "*")

    return audit("doc_fold", "per_document").unionByName(
        audit("group_fold", "per_group")
    )


def padding_waste(
    docs: DataFrame,
    batch_size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E98 — padded-batch compute waste under two batching orders:
    ARRIVAL (id order — what a naive loader does) vs LENGTH-SORTED
    (the standard bucketing fix). A batch of B sequences pads every
    member to the batch max, so its cost is B·max_len (the last,
    possibly short, batch pays rows·max_len); waste is the padding
    share of that cost in ppm. The measured gap between the two
    orders IS the business case for length bucketing in the training
    loader.

    Integer-exact throughout (token counts, products, one floor-div).
    Output per method: (method, n_batches, token_sum, padded_sum,
    waste_ppm).

    Scale: the ARRIVAL order comes from ``distributed_rank``
    (range-bucketed rank — no single-partition window, the O5
    discipline); per-batch max/count is a map-combinable aggregate on
    batch ids; the method summary is a 1-row fold. The LENGTH-SORTED
    method (r11) needs no per-row rank at all: in sorted order every
    batch's (rows, max_len) depends only on where the batch-end ranks
    fall inside each LENGTH GROUP, so the whole summary folds out of
    the length HISTOGRAM — batch i's max is the length at rank
    min(B·i, n), and the number of full-batch ends inside a group
    spanning cumulative ranks (cum−c, cum] is ``cum div B − (cum−c)
    div B``; equal lengths are interchangeable, so the id tie-break
    cannot change any aggregate. That replaces a corpus-sized
    range-bucketed window sort with one aggregate over ≤ |distinct
    lengths| rows (value-domain-bounded — per-doc token counts, the
    e127 grid-axis argument — hence the documented single-partition
    cumulative window over the histogram). The (id, len) table is
    PERSISTED for the operator's lifetime (r10: the rank passes'
    quantile samples and bucket-aggregate branches re-ran the tokenize
    scan ~6× — the E99/E128 rescan lesson) and the 2-row result is
    materialized eagerly so the cache releases before return."""
    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.util import repartition_if_coarse

    lens = repartition_if_coarse(docs).select(
        F.col(id_col).alias("id"), token_count(text_col).alias("len")
    ).persist()

    def arrival_cost() -> DataFrame:
        ranked = distributed_rank(lens, "id", ["id"])
        per_batch = (
            ranked.withColumn(
                "batch", F.expr(f"(rnk - 1) div {batch_size}").cast("long")
            )
            .groupBy("batch")
            .agg(
                F.count("*").cast("long").alias("rows"),
                F.max("len").cast("long").alias("max_len"),
                F.sum("len").cast("long").alias("tokens"),
            )
        )
        return per_batch.agg(
            F.count("*").cast("long").alias("n_batches"),
            F.sum("tokens").cast("long").alias("token_sum"),
            F.sum(F.col("rows") * F.col("max_len")).cast("long").alias("padded_sum"),
        ).select(
            F.lit("arrival_order").alias("method"),
            "n_batches",
            "token_sum",
            "padded_sum",
            F.expr(
                "cast((1000000 * (padded_sum - token_sum)) div padded_sum"
                " as bigint)"
            ).alias("waste_ppm"),
        )

    def length_sorted_cost() -> DataFrame:
        from pyspark.sql.window import Window

        hist = lens.groupBy("len").agg(F.count("*").cast("long").alias("c"))
        wcum = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
        h = hist.withColumn("cum", F.sum("c").over(wcum))
        bs = int(batch_size)
        return h.agg(
            F.sum(F.col("c") * F.col("len")).cast("long").alias("token_sum"),
            F.sum("c").cast("long").alias("n"),
            # full-batch padded cost: B · Σ_g len_g · #batch-ends in g
            F.sum(
                F.col("len")
                * (F.expr(f"cum div {bs}") - F.expr(f"(cum - c) div {bs}"))
            )
            .cast("long")
            .alias("fp"),
            F.max("len").cast("long").alias("lmax"),
        ).select(
            F.lit("length_sorted").alias("method"),
            F.expr(f"(coalesce(n, 0) + {bs - 1}) div {bs}")
            .cast("long")
            .alias("n_batches"),
            "token_sum",
            # the trailing partial batch (n % B rows) pads to the global
            # max length; its end rank is not a multiple of B, so it is
            # exactly the one batch the fp term above does not count.
            F.expr(f"{bs} * fp + (n % {bs}) * lmax")
            .cast("long")
            .alias("padded_sum"),
        ).select(
            "method",
            "n_batches",
            "token_sum",
            "padded_sum",
            F.expr(
                "cast((1000000 * (padded_sum - token_sum)) div padded_sum"
                " as bigint)"
            ).alias("waste_ppm"),
        )

    try:
        rows = arrival_cost().unionByName(length_sorted_cost()).collect()
    finally:
        lens.unpersist()
    return local_frame(
        docs.sparkSession,
        rows,
        "method string, n_batches long, token_sum long, padded_sum long, "
        "waste_ppm long",
    )


def mad_outlier_gate(events: DataFrame, k: int = 3) -> DataFrame:
    """E99 — robust outlier gate by median/MAD (Hampel 1974; the
    median absolute deviation is the 50%-breakdown scale estimate —
    mean/stddev gates move with the outliers they are supposed to
    catch): flag rows with |x − median| > k·MAD, on exact integer
    cents. Medians are LOWER medians (rank ⌈N/2⌉ under a total
    order) — integer-exact and engine-portable, unlike interpolated
    medians.

    Output one row: (n, med_cents, mad_cents, n_outliers,
    outlier_ppm).

    Scale (r11 — histogram form, guide §1.2 "remove passes"): reduce
    the corpus to the (cents, count) VALUE HISTOGRAM in one
    map-combinable aggregate; both lower medians are then exact
    order-statistic lookups on the tiny distinct-value tables
    (:func:`_hist_kth` — driver-side range refinement, ≤ 65,536-row
    bucket collects, the e83 bounded-bisection precedent), and the
    deviation histogram derives from the cents histogram by a literal
    map + re-aggregate. The corpus is scanned ONCE; every later job is
    a 1–2-stage aggregate over a cached |distinct values| table with
    no window, no broadcast-build chain, no quantile sampling. The r10
    form ranked every ROW twice (two corpus-sized range-bucketed
    window sorts + two corpus-sized persists) to look up two medians —
    the r9-vs-r10 driver A/B showed that fold trading 3 driver actions
    for 4 extra broadcast-build stages with no wall win (VERDICT r10
    perf-weak list). Empty/NULL-only input yields an empty frame
    (ADVICE r09 semantics preserved, pytest-pinned)."""
    hist = (
        events.filter(F.col("value").isNotNull())
        .select(F.expr("cast(round(value * 100) as bigint)").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    devhist = None
    try:
        stats = hist.agg(
            F.sum("c").cast("long").alias("n"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        ).collect()[0]
        n = stats["n"]
        if not n:
            rows = []
        else:
            krank = (n + 1) // 2  # lower median
            med = _hist_kth(hist, "cents", "c", [krank], stats["lo"], stats["hi"])[0][0]
            devhist = (
                hist.select(
                    F.abs(F.col("cents") - F.lit(med)).alias("dev"), "c"
                )
                .groupBy("dev")
                .agg(F.sum("c").cast("long").alias("c"))
                .persist()
            )
            # dev range is known from the cents range — no extra action.
            dev_hi = max(med - stats["lo"], stats["hi"] - med)
            mad = _hist_kth(devhist, "dev", "c", [krank], 0, dev_hi)[0][0]
            rows = (
                devhist.agg(
                    F.sum("c").cast("long").alias("n"),
                    F.sum(
                        F.when(F.col("dev") > k * mad, F.col("c")).otherwise(
                            F.lit(0)
                        )
                    )
                    .cast("long")
                    .alias("n_outliers"),
                )
                .select(
                    "n",
                    F.lit(med).cast("long").alias("med_cents"),
                    F.lit(mad).cast("long").alias("mad_cents"),
                    "n_outliers",
                    F.expr(
                        "cast((1000000 * n_outliers) div n as bigint)"
                    ).alias("outlier_ppm"),
                )
                .collect()
            )
    finally:
        hist.unpersist()
        if devhist is not None:
            devhist.unpersist()
    return local_frame(
        events.sparkSession,
        rows,
        "n long, med_cents long, mad_cents long, n_outliers long, "
        "outlier_ppm long",
    )


def _hist_kth(
    hist: DataFrame,
    val_col: str,
    cnt_col: str,
    ks: list[int],
    lo: int,
    hi: int,
    max_rows: int = 65536,
) -> list[tuple[int, int, int]]:
    """Exact order statistics of a persisted integer (value, count)
    HISTOGRAM whose values lie in [lo, hi]: for each 1-based rank in
    ``ks`` (counting multiplicity), ``(value, n_below, sum_below)`` —
    the rank's value, and the count and count-weighted value sum of
    the mass strictly below that value.

    Driver-side range refinement: while the candidate value span
    exceeds ``max_rows``, aggregate the span into ≤ ``max_rows``
    equal-width integer buckets (one cached-table aggregate + one
    bounded collect), walk the bucket prefix on the driver, and recurse
    into the bucket holding each rank. Ranks that fall into the same
    bucket share every collect until their buckets split; from then on
    each window refines on its own. Each refinement divides the span
    by ~``max_rows`` (≥ 2), so at the default an int64 domain
    terminates in ≤ 4 rounds — the e83 bounded-bisection precedent.
    Driver traffic is ≤ ``max_rows`` skinny rows per collect (the
    approxQuantile-cuts class, enforced by :func:`bounded_collect`);
    no window, no sort, no broadcast anywhere, which keeps the
    per-lookup cost a couple of trivial stage-jobs at sf0.1 and
    bounded at any scale."""
    v, c = F.col(val_col), F.col(cnt_col)
    out: list[tuple[int, int, int]] = [(0, 0, 0)] * len(ks)
    todo = [(lo, hi, 0, 0, sorted((k, i) for i, k in enumerate(ks)))]
    while todo:
        lo, hi, n_below, sum_below, want = todo.pop()
        window = hist.filter(v.between(lo, hi))
        # smallest bucket width 2^shift giving ≤ max_rows buckets
        shift = ((hi - lo) // max_rows).bit_length()
        if shift:
            window = window.groupBy(F.shiftright(v - lo, shift)).agg(F.sum(c), F.sum(v * c))
            rows = bounded_collect(window, max_rows, "_hist_kth buckets")
            cells = [(lo + (b << shift), n, s) for b, n, s in rows]
        else:
            rows = bounded_collect(window.select(v, c), max_rows, "_hist_kth values")
            cells = [(x, n, x * n) for x, n in rows]
        j = 0
        for start, n, s in sorted(cells):
            inside = []
            while j < len(want) and want[j][0] <= n_below + n:
                inside.append(want[j])
                j += 1
            if shift and inside:
                end = min(hi, start + (1 << shift) - 1)
                todo.append((start, end, n_below, sum_below, inside))
            else:
                for _, i in inside:
                    out[i] = (int(start), n_below, sum_below)
            n_below, sum_below = n_below + n, sum_below + s
        if j < len(want):  # the caller passed an impossible rank
            raise ValueError(f"_hist_kth: rank {want[j][0]} beyond histogram mass")
    return out


def auc_rank_sum(
    events: DataFrame,
    score_col: str = "value",
    pos_pred=None,
) -> DataFrame:
    """E100 — ROC AUC by the Mann–Whitney rank-sum identity (Hanley &
    McNeil 1982: AUC = U/(n⁺·n⁻)), tie-corrected with midranks — the
    threshold-free summary of the same scorer-vs-outcome question the
    PR curve (e4_classifier_pr_curve) answers pointwise.

    EXACT INTEGER AUC: scores are cents (round(value·100)); group by
    distinct score value v with count c_v and positive count p_v; with
    cum_v = inclusive prefix sum of c over ascending v, the group's
    DOUBLED midrank is the integer ``2·cum_v − c_v + 1`` (ranks
    cum−c+1 … cum average to cum − (c−1)/2), so

        AUC·ppm = 10⁶·(Σ_v p_v·(2·cum_v − c_v + 1) − n⁺(n⁺+1))
                  div (2·n⁺·n⁻)

    with every term a non-negative integer (the rank sum is minimal,
    = n⁺(n⁺+1) doubled-halved, when the positives hold ranks 1…n⁺).
    Products go through DECIMAL(38,0) (a4 discipline): the doubled
    rank sum is ≤ 2n², past int64 at n ≈ 2·10⁹ rows.

    Scale: one map-combinable (score → c, p) aggregate, then
    :func:`~train_reports_etl_spark.operators.ranking.
    distributed_prefix_sum` over the DISTINCT-score table (bounded by
    the score domain, not the row count), then a 1-row fold. No global
    window, no per-row rank join — the rank sum never materializes
    per-row ranks at all."""
    from train_reports_etl_spark.operators.ranking import distributed_prefix_sum

    if pos_pred is None:
        pos_pred = F.col("event_type") == "error"
    vals = events.filter(F.col(score_col).isNotNull()).select(
        F.expr(f"cast(round({score_col} * 100) as bigint)").alias("cents"),
        pos_pred.cast("long").alias("pos"),
    )
    # Persist the distinct-score table: the prefix pass runs a quantile
    # + histogram action that would otherwise re-execute the
    # corpus-sized aggregate (the E99/E128 rescan lesson).
    per = vals.groupBy("cents").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("pos").cast("long").alias("p"),
    ).persist()
    try:
        cum = distributed_prefix_sum(per, "cents", "c")
        dec = "cast({} as decimal(38,0))"
        rows = (
            cum.agg(
                F.sum("c").cast("long").alias("n"),
                F.sum("p").cast("long").alias("n_pos"),
                F.expr("cast(sum(c - p) as long)").alias("n_neg"),
                F.expr(
                    f"sum({dec.format('p')} * {dec.format('2 * cum - c + 1')})"
                ).alias("r2"),
            )
            .select(
                "n",
                "n_pos",
                "n_neg",
                F.expr(
                    f"cast(({dec.format('1000000')} * (r2 - {dec.format('n_pos')}"
                    f" * {dec.format('n_pos + 1')}))"
                    f" div ({dec.format('2')} * {dec.format('n_pos')}"
                    f" * {dec.format('n_neg')}) as bigint)"
                ).alias("auc_ppm"),
            )
            .collect()
        )
    finally:
        per.unpersist()
    return local_frame(events.sparkSession, rows, "n long, n_pos long, n_neg long, auc_ppm long")


def chi2_token_label(
    docs: DataFrame,
    text_col: str = "text",
    label_pred=None,
    min_df: int = 5,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """E101 — χ² token–label association (the classic feature-selection
    statistic, Yang & Pedersen ICML'97): for each token t and binary
    doc label, the 2×2 presence table (a = label⁺ docs containing t,
    b = label⁻ containing, c/d = the complements) scores

        χ²·ppm = 10⁶·N·(ad − bc)² div ((a+b)(c+d)(a+c)(b+d))

    — which tokens most separate (say) in-language from out-of-language
    docs, the signal a quality-classifier vocabulary is mined from.

    EXACT INTEGER: presence counts via one distinct-token explode
    (set semantics — array_distinct before explode, so a doc counts
    once per token); the scalar totals (N, P) are collected once
    (2 longs) and folded in as literals; the χ² products run in
    DECIMAL(38,0). The numerator is 10⁶·N·(ad−bc)² ≤ 10⁶·N⁵ —
    ENFORCED (not just documented, the t-closeness ADVICE lesson) to
    N ≤ 2·10⁶ docs, where it still fits decimal(38,0) exactly; at
    100 TB the swap is double-precision χ² (ranking tolerates it, the
    oracle gate does not).

    Scale: explode → (token) map-combinable aggregate → arithmetic on
    the token vocabulary → TakeOrdered top-k. The input passes through
    ``repartition_if_coarse`` (the explode fuses into the scan —
    row-group audit discipline)."""
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    if label_pred is None:
        label_pred = F.col("lang") == "en"
    docs = repartition_if_coarse(docs)
    base = docs.select(
        F.col(id_col), label_pred.cast("long").alias("pos"), F.col(text_col)
    )
    totals = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    ).collect()[0]
    n_docs, n_pos = int(totals["n"]), int(totals["p"])
    if n_docs > CHI2_N_BOUND:
        raise ValueError(
            f"chi2_token_label: N={n_docs} exceeds the {CHI2_N_BOUND} "
            "exact-integer bound (1e6*N^5 past DECIMAL(38,0)); use a "
            "float chi2 at this scale"
        )
    per_tok = (
        base.select(
            "pos",
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df_t"),
            F.sum("pos").cast("long").alias("a"),
        )
        .filter(F.col("df_t") >= min_df)
    )
    dec = "cast({} as decimal(38,0))"
    abcd = per_tok.select(
        "token",
        "df_t",
        "a",
        (F.col("df_t") - F.col("a")).alias("b"),
        (F.lit(n_pos) - F.col("a")).alias("c"),
        (F.lit(n_docs - n_pos) - (F.col("df_t") - F.col("a"))).alias("d"),
    )
    num = (
        f"{dec.format('1000000')} * {dec.format(str(n_docs))} * "
        f"({dec.format('a')} * {dec.format('d')} - {dec.format('b')}"
        f" * {dec.format('c')})"
    )
    den = (
        f"{dec.format('a + b')} * {dec.format('c + d')}"
        f" * {dec.format('a + c')} * {dec.format('b + d')}"
    )
    return (
        abcd.filter(
            (F.col("a") + F.col("c") > 0)
            & (F.col("b") + F.col("d") > 0)
            & (F.col("c") + F.col("d") > 0)
        )
        .select(
            "token",
            "df_t",
            "a",
            "b",
            F.expr(
                f"cast(({num}) * ({dec.format('a')} * {dec.format('d')}"
                f" - {dec.format('b')} * {dec.format('c')})"
                f" div ({den}) as bigint)"
            ).alias("chi2_ppm"),
        )
        .orderBy(F.desc("chi2_ppm"), "token")
        .limit(k)
    )


def spearman_rankers(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E102 — Spearman rank correlation between two document rankers
    (here: token count vs distinct-token count — volume vs lexical
    richness), the ranker-agreement diagnostic run before swapping one
    corpus-quality signal for a cheaper one.

        ρ = 1 − 6·Σd²/(n(n²−1)),  d = rank₁ − rank₂

    EXACT INTEGER: both ranks are ``distributed_rank`` over
    (key, id) — the id tiebreak makes every rank deterministic, and
    the oracle's ROW_NUMBER twin breaks ties identically. Reported as
    ``discordance_ppm = 10⁶·6·Σd² div (n(n²−1))`` (non-negative, so
    Spark ``div`` ≡ DuckDB ``//``) plus ``rho_ppm = 10⁶ −
    discordance_ppm`` derived AFTER the division — identical in both
    engines, valid down to ρ = −1 (discordance 2·10⁶). Σd² ≤ n³ runs
    in DECIMAL(38,0).

    Scale: one scan computes both keys; two distributed_ranks (no
    single-partition window); one id-keyed join of (id, rank) pairs;
    a 1-row fold. The (id, n_toks, n_types) table is PERSISTED for the
    operator's lifetime (r10: each rank pass's quantile sample and
    bucket-aggregate branch re-ran the double-tokenize scan — the
    E99/E128 rescan lesson, ~6 scans before, 1 after; measured
    2.7 → 1.7 s isolated at sf0.1) and the 1-row result is
    materialized eagerly so the cache releases before return."""
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    lens = repartition_if_coarse(docs).select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_toks"),
        F.size(F.array_distinct(tokens(F.col(text_col))))
        .cast("long")
        .alias("n_types"),
    ).persist()
    try:
        # One action for BOTH rank passes' cut points (r11): each
        # distributed_rank's internal approxQuantile was a separate
        # job; percentile_approx over the cached lens folds the two
        # samples into one aggregate (any cuts give identical ranks).
        qs = [i / 32 for i in range(1, 32)]
        head = lens.agg(
            F.percentile_approx("n_toks", qs, 1000).alias("c1"),
            F.percentile_approx("n_types", qs, 1000).alias("c2"),
        ).collect()[0]
        r1 = distributed_rank(
            lens.select("id", "n_toks"),
            "n_toks",
            ["n_toks", "id"],
            rank_name="r1",
            cuts=list(head["c1"] or []),
        ).select("id", "r1")
        r2 = distributed_rank(
            lens.select("id", "n_types"),
            "n_types",
            ["n_types", "id"],
            rank_name="r2",
            cuts=list(head["c2"] or []),
        ).select("id", "r2")
        dec = "cast({} as decimal(38,0))"
        rows = (
            r1.join(r2, "id")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.expr(
                    f"sum({dec.format('r1 - r2')} * {dec.format('r1 - r2')})"
                ).alias("sumd2"),
            )
            .select(
                "n",
                F.expr("cast(sumd2 as bigint)").alias("sum_d2"),
                F.expr(
                    f"cast(({dec.format('6000000')} * sumd2)"
                    f" div ({dec.format('n')} * ({dec.format('n')}"
                    f" * {dec.format('n')} - {dec.format('1')})) as bigint)"
                ).alias("discordance_ppm"),
            )
            .select(
                "n",
                "sum_d2",
                "discordance_ppm",
                (F.lit(1_000_000) - F.col("discordance_ppm")).alias("rho_ppm"),
            )
            .collect()
        )
    finally:
        lens.unpersist()
    return local_frame(
        docs.sparkSession, rows, "n long, sum_d2 long, discordance_ppm long, rho_ppm long"
    )


def kappa_gate_agreement(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 100,
    min_mean_len_x1: int = 5,
) -> DataFrame:
    """E103 — Cohen's κ (Cohen 1960) between two cheap corpus
    annotators: A = "doc has ≥ min_tokens tokens", B = "mean token
    length ≥ min_mean_len_x1 chars" (compared by integer
    cross-multiplication, sum_len ≥ 5·n_toks — no division). κ is the
    chance-corrected agreement — the number to report before replacing
    one gate with the other.

    EXACT INTEGER: with agreement count g, marginals (a⁺, b⁺) and
    pe_num = a⁺b⁺ + (N−a⁺)(N−b⁺),

        κ = (N·g − pe_num)/(N² − pe_num)  ∈ [−1, 1]

    whose numerator may be NEGATIVE — so the emitted figure is the
    shifted ``kappa_plus1_ppm = 10⁶·(N·g − pe_num + N² − pe_num)
    div (N² − pe_num)`` ∈ [0, 2·10⁶]: κ ≥ −1 makes the shifted
    numerator non-negative, keeping Spark ``div`` ≡ DuckDB ``//``
    (the repo-wide floor-division discipline). Products in
    DECIMAL(38,0). Degenerate marginals (pe = 1 ⇒ denominator 0)
    yield NULL in both engines via nullif.

    Scale: one map-only pass computes both verdicts per doc (size +
    one HOF length fold, fused into the scan — hence
    ``repartition_if_coarse``), then a 1-row fold."""
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    per = docs.select(tokens(F.col(text_col)).alias("toks")).select(
        F.size("toks").cast("long").alias("n_toks"),
        F.expr(
            "aggregate(transform(toks, t -> length(t)), 0L, (acc, x) -> acc + x)"
        ).alias("sum_len"),
    ).select(
        (F.col("n_toks") >= min_tokens).cast("long").alias("ra"),
        # empty docs vote "no" — without the n_toks > 0 term,
        # 0 >= 5*0 would make rb TRUE for them (the oracle's twin
        # guards with LEN(...) > 0)
        (
            (F.col("n_toks") > 0)
            & (F.col("sum_len") >= min_mean_len_x1 * F.col("n_toks"))
        )
        .cast("long")
        .alias("rb"),
    )
    dec = "cast({} as decimal(38,0))"
    pe_num = (
        f"({dec.format('a_yes')} * {dec.format('b_yes')}"
        f" + ({dec.format('n')} - {dec.format('a_yes')})"
        f" * ({dec.format('n')} - {dec.format('b_yes')}))"
    )
    den = f"({dec.format('n')} * {dec.format('n')} - {pe_num})"
    return (
        per.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("ra").cast("long").alias("a_yes"),
            F.sum("rb").cast("long").alias("b_yes"),
            F.sum((F.col("ra") == F.col("rb")).cast("long"))
            .cast("long")
            .alias("agree"),
        )
        .select(
            "n",
            "a_yes",
            "b_yes",
            "agree",
            F.expr(
                f"cast(({dec.format('1000000')} * {dec.format('agree')})"
                f" div {dec.format('n')} as bigint)"
            ).alias("po_ppm"),
            F.expr(
                f"cast(({dec.format('1000000')} * {pe_num})"
                f" div ({dec.format('n')} * {dec.format('n')}) as bigint)"
            ).alias("pe_ppm"),
            F.expr(
                f"cast(({dec.format('1000000')} * ({dec.format('n')}"
                f" * {dec.format('agree')} - {pe_num} + {den}))"
                f" div nullif({den}, cast(0 as decimal(38,0))) as bigint)"
            ).alias("kappa_plus1_ppm"),
        )
    )


# Benford expected first-digit frequencies, ppm: round(1e6*log10(1+1/d)).
# LITERAL constants (the repo's rule for transcendentals — both engines
# consume the same integers instead of computing log10 themselves).
BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def benford_audit(
    events: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """E104 — Benford first-significant-digit audit (Benford 1938;
    Nigrini 1996 popularized it for fraud/DQ screening): natural
    multi-scale positive amounts follow P(d) = log10(1+1/d); a
    fabricated or truncated feed drifts. Reported per digit:
    observed count, observed ppm, expected ppm (literal constants),
    absolute deviation ppm.

    EXACT INTEGER: cents = round(value·100) > 0; scaling by 100 never
    changes the first significant digit, and the digit comes from the
    decimal string of an integer — no float log anywhere (the expected
    frequencies are shared literals).

    Scale: one map-combinable 9-key aggregate; everything after runs
    on ≤ 9 rows."""
    cents = F.expr(f"cast(round({value_col} * 100) as bigint)")
    digits = (
        events.filter(F.col(value_col).isNotNull())
        .select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    per = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    exp_map = F.create_map(
        *[F.lit(x) for d, p in enumerate(BENFORD_PPM, start=1) for x in (d, p)]
    )
    total = per.agg(F.sum("n").cast("long").alias("total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("cast((1000000 * n) div total as bigint)").alias("obs_ppm"),
            exp_map[F.col("digit")].cast("long").alias("exp_ppm"),
        )
        .withColumn(
            "dev_ppm",
            F.abs(F.col("obs_ppm") - F.col("exp_ppm")).cast("long"),
        )
        .orderBy("digit")
    )


def gini_concentration(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """E105 — Gini coefficient of per-source token mass: how
    concentrated is the corpus across its sources? 0 = perfectly
    balanced shards, →1 = one source dominates (the number a
    temperature-mix/waterfilling pass is trying to pull down; E83's
    budget allocator is the fix whose before/after this measures).

    EXACT INTEGER (ascending sort, 1-based rank i over n groups):

        G·ppm = 10⁶·(2·Σ i·xᵢ − (n+1)·Σx)  div  (n·Σx)

    non-negative for ascending order. Products in DECIMAL(38,0).

    Scale: the data-sized stage is ONE map-combinable (source → token
    count) aggregate; the sort + rank window runs on the aggregated
    frame, BOUNDED by the source domain (the hull-vertices precedent —
    a window over a domain-bounded frame, never over data)."""
    from pyspark.sql.window import Window

    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.util import repartition_if_coarse

    per = (
        repartition_if_coarse(docs, min_rows=10_000)
        .select(F.col(group_col).alias("g"), token_count(text_col).alias("t"))
        .groupBy("g")
        .agg(F.sum("t").cast("long").alias("x"))
    )
    w = Window.orderBy("x", "g")  # bounded frame: one row per source
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    dec = "cast({} as decimal(38,0))"
    return ranked.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("x").cast("long").alias("total_tokens"),
        F.expr(f"sum({dec.format('i')} * {dec.format('x')})").alias("sixi"),
    ).select(
        "n_groups",
        "total_tokens",
        F.expr(
            f"cast(({dec.format('1000000')} * ({dec.format('2')} * sixi"
            f" - ({dec.format('n_groups + 1')}) * {dec.format('total_tokens')}))"
            f" div ({dec.format('n_groups')} * {dec.format('total_tokens')})"
            " as bigint)"
        ).alias("gini_ppm"),
    )


def ks_statistic(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    type_a: str = "purchase",
    type_b: str = "view",
) -> DataFrame:
    """E106 — two-sample Kolmogorov–Smirnov statistic between the
    value distributions of two event types: D = max_v |F_a(v) −
    F_b(v)| — the standard drift test between a reference slice and a
    live slice (Kolmogorov 1933; Smirnov 1939).

    EXACT INTEGER: per distinct cents value, counts (c_a, c_b); both
    inclusive prefix sums via ONE merged
    :func:`distributed_prefix_sums` pass (one bucket exchange + one
    sort for both CDFs); the CDF difference is
    cross-multiplied — |cum_a·n_b − cum_b·n_a| — so no division
    happens until the single final D_ppm = 10⁶·max div (n_a·n_b).
    Products in DECIMAL(38,0) (cum·n ≤ n², past int64 at n ≈ 3·10⁹).

    Scale: one map-combinable (cents → c_a, c_b) aggregate, two
    range-bucketed prefix sums over the DISTINCT-value table, a 1-row
    max fold. Like the AUC (E100), per-row ranks never materialize."""
    from train_reports_etl_spark.operators.ranking import distributed_prefix_sums

    per = (
        events.filter(
            F.col(value_col).isNotNull()
            & F.col(type_col).isin([type_a, type_b])
        )
        .select(
            F.expr(f"cast(round({value_col} * 100) as bigint)").alias("cents"),
            (F.col(type_col) == type_a).cast("long").alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("is_a").cast("long").alias("c_a"),
            F.sum(F.expr("1 - is_a")).cast("long").alias("c_b"),
        )
    )
    # Persist the distinct-cents table: the prefix pass's quantile
    # sample and its bucket-aggregate branch would otherwise re-execute
    # the corpus-sized aggregate (the E99/E128 rescan lesson).
    per = per.persist()
    try:
        # One merged pass for both CDFs (r10: distributed_prefix_sums —
        # one bucket exchange + one sort instead of two chained passes).
        cum = distributed_prefix_sums(
            per, "cents", ["c_a", "c_b"], sum_names=["cum_a", "cum_b"]
        )
        totals = per.agg(
            F.sum("c_a").cast("long").alias("n_a"),
            F.sum("c_b").cast("long").alias("n_b"),
        )
        dec = "cast({} as decimal(38,0))"
        rows = (
            cum.crossJoin(F.broadcast(totals))
            .agg(
                F.max("n_a").cast("long").alias("n_a"),
                F.max("n_b").cast("long").alias("n_b"),
                F.expr(
                    f"max(abs({dec.format('cum_a')} * {dec.format('n_b')}"
                    f" - {dec.format('cum_b')} * {dec.format('n_a')}))"
                ).alias("maxnum"),
            )
            .select(
                "n_a",
                "n_b",
                F.expr(
                    f"cast(({dec.format('1000000')} * maxnum)"
                    f" div ({dec.format('n_a')} * {dec.format('n_b')}) as bigint)"
                ).alias("d_ppm"),
            )
            .collect()
        )
    finally:
        per.unpersist()
    return local_frame(events.sparkSession, rows, "n_a long, n_b long, d_ppm long")


def trimmed_winsorized_mean(
    events: DataFrame,
    trim_ppm: int = 100_000,
) -> DataFrame:
    """E107 — trimmed and winsorized means of the value column (Tukey's
    robust-location pair; the MAD gate's E99 sibling): trim drops the
    lowest/highest ``trim_ppm``·n rows under the TOTAL order
    (cents, event_id) — deterministic through ties, matching SQL
    ROW_NUMBER — while winsorize clamps them to the boundary values
    (Dixon 1960: winsorization keeps n and the breakdown point).

    Exact integers: k = (n·trim_ppm) div 10⁶ rows trimmed per side;
    boundary cents are the rank-(k+1) and rank-(n−k) values; means
    reported in millicents by one floor division. Output one row:
    (n, k_per_side, lo_cents, hi_cents, trimmed_mean_millicents,
    winsorized_mean_millicents).

    Scale (r11 — histogram form, the E99 treatment): ONE map-combinable
    (cents, count) aggregate over the corpus; the two trim boundaries
    are exact order-statistic lookups on the cached histogram, both
    ranks in one :func:`_hist_kth` call (driver-side range refinement,
    bounded ≤ 65,536-row collects shared until the ranks' buckets
    split). The lookup also returns the count and sum of the mass
    below each boundary value, so the trimmed sum is exact prefix-sum
    arithmetic on the driver, with no further aggregate (rows strictly
    below the (k+1)-th value number < k, so the boundary value
    contributes ``k − count_below`` bottom-trimmed copies;
    symmetrically on top). Tie handling is value-blind — the
    (cents, event_id) total order only decides WHICH of several
    equal-valued rows trim, never the sums — so the histogram result
    is identical to the r10 per-row rank form, which sorted every row
    twice (rank window + two chained broadcast-build branches) to
    compute four numbers. The trim-too-deep guard raises with the same
    "leaves no rows" message (pytest-pinned); empty/NULL-only input
    still yields an empty frame."""
    hist = (
        events.filter(F.col("value").isNotNull())
        .select(F.expr("cast(round(value * 100) as bigint)").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    spark = events.sparkSession
    schema = (
        "n long, k_per_side long, lo_cents long, hi_cents long, "
        "trimmed_mean_millicents long, winsorized_mean_millicents long"
    )

    try:
        stats = hist.agg(
            F.sum("c").cast("long").alias("n"),
            F.min("cents").alias("lo0"),
            F.max("cents").alias("hi0"),
        ).collect()[0]
        n = stats["n"]
        if not n:
            rows = []
        else:
            k = (int(n) * trim_ppm) // 1_000_000
            if n - 2 * k <= 0:
                raise ValueError(
                    f"trimmed_winsorized_mean: trim_ppm={trim_ppm} leaves "
                    f"no rows at n={n}"
                )
            (lo, n_lo, s_lo), (hi, n_hi, s_hi) = _hist_kth(
                hist, "cents", "c", [k + 1, n - k], stats["lo0"], stats["hi0"]
            )
            # Σ of ranks ≤ r is sum_below + value·(r − n_below): ranks
            # k+1 … n−k are the prefix through n−k minus the one through k.
            tsum = (s_hi + hi * (n - k - n_hi)) - (s_lo + lo * (k - n_lo))
            rows = [
                (
                    int(n),
                    int(k),
                    int(lo),
                    int(hi),
                    sql_div(1000 * tsum, int(n) - 2 * k),
                    sql_div(1000 * (tsum + k * lo + k * hi), int(n)),
                )
            ]
    finally:
        hist.unpersist()
    return local_frame(spark, rows, schema)


def effective_sample_size(docs: DataFrame) -> DataFrame:
    """E108 — Kish effective sample size (Kish 1965, §8.2: for weights
    w_i, ESS = (Σw)²/Σw²) at two granularities of the corpus-mix
    question:

    - ``doc_tokens``: documents weighted by their token counts — "how
      many effectively-equal documents does token-weighted training
      see?" (long docs dominate exactly as ESS/n falls below 1);
    - ``source_tokens``: sources weighted by their total token mass —
      "how many effectively-equal SOURCES is this mix?" (the
      temperature-sampling diagnostic: waterfill/E74 flattens caps
      precisely to push this toward the source count).

    Integer-exact: Σw and Σw² are bigint sums of per-row products
    (w ≤ 10⁶ tokens/doc keeps Σw² in int64 to ~10⁶ sources /
    ~9·10⁶ giant docs — data-sized sums stay bigint per the round-10
    decimal A/B, 2.2–2.4× per-row decimal cost); the FINAL (Σw)² is
    one DECIMAL(38,0) product on a 2-row table (measured free).
    Output per scheme: (scheme, n_units, sum_w, sum_w2, ess_x1000,
    ess_ratio_ppm = 10⁶·ESS/n).

    Scale: one token-count scan + one per-source aggregate; everything
    after runs on ≤ #sources rows."""
    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    per_doc = docs.select(
        "source", token_count("text").cast("long").alias("w")
    ).persist()
    dec = "cast({} as decimal(38,0))"

    def ess(df, scheme):
        agg = df.agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum("w").cast("long").alias("sum_w"),
            F.sum(F.col("w") * F.col("w")).cast("long").alias("sum_w2"),
        )
        return agg.select(
            F.lit(scheme).alias("scheme"),
            "n_units",
            "sum_w",
            "sum_w2",
            F.expr(
                f"cast(({dec.format('1000')} * {dec.format('sum_w')}"
                f" * {dec.format('sum_w')}) div {dec.format('sum_w2')}"
                " as bigint)"
            ).alias("ess_x1000"),
            F.expr(
                f"cast(({dec.format('1000000')} * {dec.format('sum_w')}"
                f" * {dec.format('sum_w')})"
                f" div ({dec.format('sum_w2')} * {dec.format('n_units')})"
                " as bigint)"
            ).alias("ess_ratio_ppm"),
        )

    try:
        by_source = per_doc.groupBy("source").agg(
            F.sum("w").cast("long").alias("w")
        )
        out = ess(per_doc, "doc_tokens").unionByName(
            ess(by_source, "source_tokens")
        )
        # both schemes aggregate the SAME persisted token-count scan;
        # materialize before unpersisting
        rows = out.collect()
    finally:
        per_doc.unpersist()
    return local_frame(
        docs.sparkSession,
        rows,
        "scheme string, n_units long, sum_w long, sum_w2 long, "
        "ess_x1000 long, ess_ratio_ppm long",
    )


def brier_decomposition(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """E109 — Murphy (1973) decomposition of the Brier score for the
    E94 value-proxy scorer: BS = reliability − resolution +
    uncertainty, each from the 10-bin table (n_k, pos_k, sum_conf_k)
    plus the global base rate. The decomposition localizes WHY a
    scorer is bad: reliability (calibration gap within bins, what
    recalibration fixes) vs resolution (how much the bins separate
    outcomes, what only a better model fixes).

    Integer-exact per-bin with an explicitly floored definition:
    rel_num_k = (sum_conf_k − 10⁶·pos_k)² div n_k and
    res_num_k = 10¹² ·(pos_k·n − pos·n_k)² div (n_k·n²) are floored
    PER BIN (both engines floor identically; the ≤ n_bins·1 ppm·10⁻⁶
    definitional bias is documented, not hidden), then
    rel_ppm = Σ rel_num_k div (n·10⁶). The row-level Brier sum and
    all bin squares run in DECIMAL(38,0): squares of ppm-scaled
    counts exceed int64 at ~10⁶ rows/bin, and the A/B (SCALING.md
    round-10) measures decimal free on ≤ n_bins rows while the ONE
    data-sized decimal sum costs ~2× on a scan that is the query
    anyway. Output one row: (n, pos, brier_ppm, reliability_ppm,
    resolution_ppm, uncertainty_ppm).

    Scale: one map-combinable bin aggregate (the E94 shape) + one
    row-level sum in the same pass; everything after is ≤ n_bins rows.
    """
    conf = F.expr("least(cast(round(value * 100) as bigint), 10000) * 100")
    dec = "cast({} as decimal(38,0))"
    binned = events.select(
        conf.alias("conf_ppm"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    ).select(
        F.least(
            F.expr("conf_ppm div " + str(1_000_000 // n_bins)),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
        "conf_ppm",
        "pos",
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_k"),
        F.sum("pos").cast("long").alias("pos_k"),
        F.sum("conf_ppm").cast("long").alias("sum_conf"),
        F.sum(
            F.expr(
                f"({dec.format('conf_ppm - 1000000 * pos')})"
                f" * ({dec.format('conf_ppm - 1000000 * pos')})"
            )
        ).alias("sq"),
    )
    tot = per.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("pos_k").cast("long").alias("pos"),
        F.sum("sq").cast("decimal(38,0)").alias("sq_total"),
    )
    terms = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "n",
            "pos",
            "sq_total",
            F.expr(
                f"({dec.format('sum_conf')} - {dec.format('1000000')}"
                f" * {dec.format('pos_k')})"
            ).alias("rel_d"),
            F.expr(
                f"({dec.format('pos_k')} * {dec.format('n')}"
                f" - {dec.format('pos')} * {dec.format('n_k')})"
            ).alias("res_d"),
            F.col("n_k"),
        )
        .groupBy("n", "pos", "sq_total")
        .agg(
            F.sum(
                F.expr(f"(rel_d * rel_d) div {dec.format('n_k')}")
            ).alias("rel_num"),
            F.sum(
                F.expr(
                    f"({dec.format('1000000000000')} * res_d * res_d)"
                    f" div ({dec.format('n_k')} * {dec.format('n')}"
                    f" * {dec.format('n')})"
                )
            ).alias("res_num"),
        )
    )
    return terms.select(
        "n",
        "pos",
        F.expr(
            f"cast(sq_total div ({dec.format('n')} * {dec.format('1000000')})"
            " as bigint)"
        ).alias("brier_ppm"),
        F.expr(
            f"cast(rel_num div ({dec.format('n')} * {dec.format('1000000')})"
            " as bigint)"
        ).alias("reliability_ppm"),
        F.expr(
            f"cast(res_num div ({dec.format('n')} * {dec.format('1000000')})"
            " as bigint)"
        ).alias("resolution_ppm"),
        F.expr(
            f"cast(({dec.format('1000000')} * {dec.format('pos')}"
            f" * ({dec.format('n')} - {dec.format('pos')}))"
            f" div ({dec.format('n')} * {dec.format('n')}) as bigint)"
        ).alias("uncertainty_ppm"),
    )


#: Poisson(1) CDF thresholds scaled to 16^13 (the md5-13-nibble uniform
#: domain): P(X ≤ k) · 16¹³ for k = 0..6; a uniform u lands multiplicity
#: m = #{thresholds ≤ u} ∈ 0..7. Literal integers so Spark and DuckDB
#: compare EXACTLY the same numbers — no float CDF at query time.
POISSON1_THRESHOLDS_16_13 = [
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
    4500923656847446,
    4503224742561580,
]


def bootstrap_mean_ci(
    docs: DataFrame,
    n_boot: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """E110 — deterministic Poisson bootstrap CI for the corpus mean
    tokens-per-document (Oza 2001 / Chamandy et al., Google 2012
    "Estimating uncertainty for massive data streams": resample b
    gives each row multiplicity m ~ Poisson(1), independent per
    (row, b) — the streaming/distributed bootstrap that never
    materializes a resample). Here m is DERIVED, not random:
    u = int(md5(id:boot:b)[:13 nibbles]) and m = #{Poisson CDF
    thresholds ≤ u} with the thresholds embedded as INTEGER literals
    (:data:`POISSON1_THRESHOLDS_16_13`) — both engines replay the
    identical resamples, so the CI is strong-oracle-checkable.

    Output one row: n_docs, B, the point mean (ppm tokens/doc), the
    bootstrap percentile CI (4th and 61st of the 64 sorted resample
    means — the ~5%/95% order statistics), and the spread.

    Scale: ONE pass — the B resample sums are 2·B map-combinable
    aggregate expressions over the same scan (no row explosion, no
    extra shuffle); the percentile step sorts B numbers on the
    driver. Cost is linear in B on executor CPU only; the metric
    column swaps freely (any per-row integer)."""
    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    base = docs.select(
        F.col(id_col).cast("string").alias("id"),
        token_count("text").cast("long").alias("w"),
    ).persist()
    # Shape note: a single 2·B-expression-wide aggregate would be one
    # pass with zero row inflation, but 128 aggregate fields exceeds
    # whole-stage codegen's field limit (spark.sql.codegen.maxFields =
    # 100) — measured 6.6 s WARM on 500 rows, all interpreted-mode
    # overhead. posexplode to (b, m, w) rows + a 64-group aggregate
    # keeps every operator inside codegen and map-side combine shrinks
    # the shuffle to B rows per task; the 64× row inflation is
    # scan-side CPU only (identical md5 count either way).
    m_expr = F.lit(0)
    for t in POISSON1_THRESHOLDS_16_13:
        m_expr = m_expr + (F.col("u") >= F.lit(t)).cast("long")
    per_b = (
        base.select(
            "w",
            F.posexplode(
                F.array(
                    *[
                        F.expr(
                            f"cast(conv(substring(md5(concat(id, ':boot:{b}')),"
                            " 1, 13), 16, 10) as bigint)"
                        )
                        for b in range(n_boot)
                    ]
                )
            ).alias("b", "u"),
        )
        .select("b", "w", m_expr.alias("m"))
        .groupBy("b")
        .agg(
            F.sum(F.col("m") * F.col("w")).cast("long").alias("s"),
            F.sum("m").cast("long").alias("c"),
        )
    )
    try:
        head = base.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("sw"),
        ).collect()[0]
        row = {"n_docs": head["n_docs"], "sw": head["sw"]}
        for r in per_b.collect():
            row[f"s{r['b']}"] = r["s"]
            row[f"c{r['b']}"] = r["c"]
    finally:
        base.unpersist()
    means = sorted(
        (1_000_000 * row[f"s{b}"]) // row[f"c{b}"]
        for b in range(n_boot)
        if row.get(f"c{b}")
    )
    lo_i = max(0, int(0.05 * n_boot) - 1)
    hi_i = min(len(means) - 1, int(0.95 * n_boot))
    out = [
        (
            int(row["n_docs"]),
            int(n_boot),
            (1_000_000 * int(row["sw"])) // int(row["n_docs"]),
            int(means[lo_i]),
            int(means[hi_i]),
            int(means[hi_i] - means[lo_i]),
        )
    ]
    return local_frame(
        docs.sparkSession,
        out,
        "n_docs long, n_boot long, mean_tokens_ppm long, "
        "boot_lo_ppm long, boot_hi_ppm long, boot_spread_ppm long",
    )


def conformal_threshold(
    events: DataFrame,
    alpha_pct: int = 10,
) -> DataFrame:
    """E113 — split-conformal calibration (Vovk et al. 2005; Angelopoulos
    & Bates 2023 tutorial form): on a calibration split, take the
    ⌈(n+1)(1−α)⌉-th smallest nonconformity score as the threshold q̂;
    marginal coverage of the conformal set on exchangeable test data is
    then ≥ 1−α by construction. Here the scorer is the E94 value-proxy
    P(purchase), nonconformity of a TRUE positive = 10⁶ − conf_ppm, the
    calibration/test split is event_id parity (deterministic,
    id-exchangeable for the synthetic stream).

    Integer-exact: ranks, ⌈·⌉ by integer ceil-div, coverage in ppm.
    Output one row: (n_cal, qhat_ppm, n_test_pos, coverage_ppm, n_test,
    flagged_ppm) — flagged = test rows whose conformal set contains
    'purchase' (the operating-cost side of the guarantee).

    Scale: one filter + :func:`distributed_rank` over the calibration
    positives (range-bucketed), one rank-predicate lookup for q̂, one
    aggregate over the test split. Two data passes, no global window."""
    from train_reports_etl_spark.operators.ranking import distributed_rank

    conf = F.expr("least(cast(round(value * 100) as bigint), 10000) * 100")
    base = events.filter(F.col("value").isNotNull()).select(
        F.col("event_id").alias("id"),
        conf.alias("conf_ppm"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
        (F.col("event_id") % 2 == 0).alias("is_cal"),
    )
    # r11 (VERDICT r10 #7): ``cal``'s lineage used to appear in three
    # branches of the single action (ranked scan, bucket-aggregate
    # broadcast build, count broadcast), re-running the base filter
    # each time — the E99 rescan pattern. Persist for the operator's
    # lifetime; the ≤1-row q̂ lookup is then eagerly checkpointed
    # (cuts lineage back to nothing) so the cache releases BEFORE
    # return, the e107 discipline.
    cal = (
        base.filter(F.col("is_cal") & (F.col("pos") == 1))
        .select("id", (F.lit(1_000_000) - F.col("conf_ppm")).alias("s"))
        .persist()
    )
    try:
        ranked = distributed_rank(cal, "s", ["s", "id"])
        cnt = cal.agg(F.count("*").cast("long").alias("__n_cal"))
        k = (
            f"least(__n_cal, ((__n_cal + 1) * {100 - alpha_pct} + 99) div 100)"
        )
        # The ≤1-row rank lookup is folded to a SCALAR AGGREGATE (max
        # over the single matching row) so the broadcast build side is
        # the audited scalar-agg BNLJ class; on an empty calibration
        # split the aggregate emits one all-NULL row and the trailing
        # isNotNull filter still yields an empty result.
        qrow = (
            ranked.crossJoin(F.broadcast(cnt))
            .filter(F.col("rnk") == F.expr(k))
            .agg(
                F.max("__n_cal").cast("long").alias("__n_cal"),
                F.max("s").cast("long").alias("__qhat"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cal.unpersist()
    test = base.filter(~F.col("is_cal"))
    # n_cal/qhat come from the q̂ row ITSELF, not from max() over the
    # test×q̂ cross join (ADVICE r10, low): with a non-empty calibration
    # split but an EMPTY test split the old aggregate saw zero rows, so
    # n_cal came out NULL and the trailing filter dropped the computed
    # q̂. Now the test aggregate contributes only the test-side columns
    # (NULL/0 on an empty split, as the pre-r10 scalar form did).
    tagg = test.crossJoin(F.broadcast(qrow)).agg(
        F.sum("pos").cast("long").alias("n_test_pos"),
        F.expr(
            "cast((1000000 * sum(case when pos = 1 and"
            " 1000000 - conf_ppm <= __qhat then 1 else 0 end))"
            " div nullif(sum(pos), 0) as bigint)"
        ).alias("coverage_ppm"),
        F.count("*").cast("long").alias("n_test"),
        F.expr(
            "cast((1000000 * sum(case when"
            " 1000000 - conf_ppm <= __qhat then 1 else 0 end))"
            " div nullif(count(*), 0) as bigint)"
        ).alias("flagged_ppm"),
    )
    row = (
        qrow.select(
            F.col("__n_cal").alias("n_cal"),
            F.col("__qhat").alias("qhat_ppm"),
        )
        .crossJoin(tagg)
        .select(
            "n_cal",
            "qhat_ppm",
            "n_test_pos",
            "coverage_ppm",
            "n_test",
            "flagged_ppm",
        )
        .filter(F.col("n_cal").isNotNull())
    )
    return row


#: Exact-integer χ²×10⁶ per cell needs 10⁶·N⁴ ≤ 10³⁸ → N ≤ ~2.4·10⁸;
#: enforced with margin (same runtime-guard discipline as CHI2_N_BOUND).
CRAMER_N_BOUND = 100_000_000


def cramers_v(
    docs: DataFrame,
    col_a: str = "lang",
    col_b: str = "source",
) -> DataFrame:
    """E115 — Cramér's V association between two categorical columns
    (Cramér 1946): the corpus-design question "is language confounded
    with source?" as one number in [0,1] — V² = χ²/(N·min(R−1, C−1)).
    A V near 1 means per-source processing silently becomes
    per-language processing (and vice versa); near 0 means the mix is
    factorized.

    Integer-exact with the E109 per-cell-floor convention:
    cell = 10⁶·(N·o_ij − r_i·c_j)² div (N·r_i·c_j) in DECIMAL(38,0)
    (each engine floors identically; bias ≤ R·C µ-units), summed to
    chi2_e6, then v2_ppm = chi2_e6 div (N·min(R−1,C−1)). The 10⁶·N⁴
    decimal ceiling is ENFORCED at N ≤ 10⁸ (runtime raise, not a
    docstring — the E101 discipline).

    Output one row: (n, n_rows, n_cols, dof_min, chi2_e6, v2_ppm).

    Scale: ONE (a, b) count aggregate (map-combinable, R·C keys);
    marginals and the fold run on ≤ R·C rows."""
    cells = (
        docs.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count("*").cast("long").alias("o"))
        .persist()
    )
    dec = "cast({} as decimal(38,0))"
    try:
        tot = cells.agg(
            F.sum("o").cast("long").alias("n"),
            F.count_distinct("a").cast("long").alias("nr"),
            F.count_distinct("b").cast("long").alias("nc"),
        ).collect()[0]
        n, nr, nc = int(tot["n"]), int(tot["nr"]), int(tot["nc"])
        if n > CRAMER_N_BOUND:
            raise ValueError(
                f"cramers_v: N={n} exceeds the exact-integer DECIMAL(38,0) "
                f"ceiling ({CRAMER_N_BOUND}); aggregate upstream or use a "
                "float chi-square"
            )
        ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("r"))
        cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("c"))
        dof = min(nr - 1, nc - 1)
        # groupBy materializes only OBSERVED cells; the absent cells'
        # χ² mass (o=0 ⇒ (r·c)²/(N·r·c) = r·c/N each) folds exactly:
        # Σ_all r_i·c_j = N², so Σ_absent r·c = N² − Σ_present r·c —
        # no R×C cross join is ever built.
        row = (
            cells.join(F.broadcast(ra), "a")
            .join(F.broadcast(cb), "b")
            .agg(
                F.sum(
                    F.expr(
                        f"({dec.format('1000000')}"
                        f" * ({dec.format(str(n))} * {dec.format('o')}"
                        f" - {dec.format('r')} * {dec.format('c')})"
                        f" * ({dec.format(str(n))} * {dec.format('o')}"
                        f" - {dec.format('r')} * {dec.format('c')}))"
                        f" div ({dec.format(str(n))} * {dec.format('r')}"
                        f" * {dec.format('c')})"
                    )
                ).alias("present_e6"),
                F.sum(
                    F.expr(f"{dec.format('r')} * {dec.format('c')}")
                ).alias("rc_present"),
            )
            .select(
                F.expr(
                    f"cast(present_e6 + ({dec.format('1000000')}"
                    f" * ({dec.format(str(n * n))} - rc_present))"
                    f" div {dec.format(str(n))} as decimal(38,0))"
                ).alias("chi2_e6")
            )
            .collect()[0]
        )
        chi = row["chi2_e6"]
    finally:
        cells.unpersist()
    v2 = int(chi) // (n * dof) if dof > 0 else None
    return local_frame(
        docs.sparkSession,
        [(n, nr, nc, dof, int(chi), v2)],
        "n long, n_rows long, n_cols long, dof_min long, chi2_e6 long, "
        "v2_ppm long",
    )


def psi_drift_bins(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """E117 — population stability index between the reference slice
    (event_type='view') and the live slice ('purchase') over fixed
    cents-decile bins: PSI = Σ (p̂ᵢ − q̂ᵢ)·ln(p̂ᵢ/q̂ᵢ), the ML-ops drift
    screen that complements the E106 KS statistic (KS sees the worst
    single CDF gap; PSI integrates mismatch over the whole histogram,
    with the conventional <0.1 / 0.1–0.25 / >0.25 action bands).
    Shares (+1)-smoothed (p̂ = (c+1)/(n+bins)) so empty bins contribute
    finite mass — the standard Laplace guard, identical in the oracle.

    Exactness contract: counts are integers; ln runs on identical
    exact rationals in both engines and the per-bin contribution is
    rounded to integer MICRO-nats (the trigram-LM transcendental
    pattern). Output one row per bin: (bin, c_ref, c_live,
    contrib_micronats) — the scalar PSI is the column sum, kept
    per-bin so the gate hashes the whole histogram.

    Scale: ONE map-combinable two-count aggregate over ``n_bins``
    keys; everything after runs on ≤ n_bins rows."""
    width = 50_000 // n_bins  # cents per bin over the $0..$500 span
    binned = events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    ).select(
        F.least(
            F.expr(f"cast(round(value * 100) as bigint) div {width}"),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
        (F.col("event_type") == "view").cast("long").alias("is_ref"),
    )
    per = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("c_live"),
    )
    tot = per.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_live").cast("long").alias("n_live"),
    )
    p = f"((c_ref + 1) / cast(n_ref + {n_bins} as double))"
    q = f"((c_live + 1) / cast(n_live + {n_bins} as double))"
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "c_ref",
            "c_live",
            F.expr(
                f"cast(round(1000000 * ({p} - {q}) * ln({p} / {q})) as bigint)"
            ).alias("contrib_micronats"),
        )
    )


def jsd_source_pairs(docs: DataFrame) -> DataFrame:
    """E125 — Jensen–Shannon divergence between every source pair's
    unigram distribution (Lin 1991): the bounded, symmetric
    distribution-level drift/diff screen that completes the trio —
    E106's KS is the worst single CDF gap, E117's PSI integrates
    binned numeric mismatch, JSD compares whole TOKEN distributions
    (0 = identical mix, ln 2 ≈ 693147 micronats = disjoint).

    Decomposition that keeps everything engine-exact: for tokens
    shared by both sources, the per-token contribution
    ½[p·ln(2p/(p+q)) + q·ln(2q/(p+q))] is ONE double expression of
    exact integer counts (p = c_a/N_a, q = c_b/N_b; the ratios inside
    ln reduce to rationals of integer products), rounded to integer
    micronats per token and summed exactly. Tokens present in only one
    source contribute analytically ½·ln2·(their total mass) — two more
    rounded terms from the integer one-sided masses, NOT a per-token
    scan of the disjoint vocabularies. Per-token rounding bias is
    ≤ 0.5 micronats × shared types, identical in both engines.

    Output per pair (source_a < source_b): n_shared_types,
    only_a_mass_ppm, only_b_mass_ppm (exact integer ppm),
    jsd_micronats. Pairs sharing no token are absent rows (the E116
    convention).

    Scale: ONE (source, token) count aggregate is the only corpus-sized
    stage; the pair join is token-keyed over the vocab-bounded table
    (never all-pairs over rows), source totals broadcast."""
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    cnt = (
        docs.select(F.col("source").alias("s"), F.explode(tokens("text")).alias("t"))
        .groupBy("s", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    sizes = cnt.groupBy("s").agg(F.sum("c").cast("long").alias("n"))
    pair = (
        cnt.alias("x")
        .join(cnt.alias("y"), "t")
        .filter(F.col("x.s") < F.col("y.s"))
        .select(
            F.col("x.s").alias("sa"),
            F.col("y.s").alias("sb"),
            F.col("x.c").alias("ca"),
            F.col("y.c").alias("cb"),
        )
        .join(
            F.broadcast(sizes.select(F.col("s").alias("sa"), F.col("n").alias("na"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("s").alias("sb"), F.col("n").alias("nb"))),
            "sb",
        )
    )
    # Shared-token contribution in micronats, rounded per token. The
    # ln arguments reduce to rationals of integer products; every
    # double op below is IEEE-identical in Spark and DuckDB.
    contrib = (
        "cast(round(1000000.0 * 0.5 * ("
        " (cast(ca as double) / cast(na as double))"
        " * ln((2.0 * cast(ca as double) * cast(nb as double))"
        "      / (cast(ca as double) * cast(nb as double)"
        "         + cast(cb as double) * cast(na as double)))"
        " + (cast(cb as double) / cast(nb as double))"
        " * ln((2.0 * cast(cb as double) * cast(na as double))"
        "      / (cast(ca as double) * cast(nb as double)"
        "         + cast(cb as double) * cast(na as double)))"
        ")) as bigint)"
    )
    per_pair = pair.groupBy("sa", "sb").agg(
        F.count("*").cast("long").alias("n_shared_types"),
        F.sum("ca").cast("long").alias("shared_ca"),
        F.sum("cb").cast("long").alias("shared_cb"),
        F.sum(F.expr(contrib)).cast("long").alias("shared_micronats"),
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    lump = (
        "cast(round(1000000.0 * 0.5 * ln(2.0)"
        " * (cast({n} - shared_c{x} as double) / cast({n} as double)))"
        " as bigint)"
    )
    return per_pair.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_shared_types",
        F.expr("cast((1000000 * (na - shared_ca)) div na as bigint)").alias(
            "only_a_mass_ppm"
        ),
        F.expr("cast((1000000 * (nb - shared_cb)) div nb as bigint)").alias(
            "only_b_mass_ppm"
        ),
        (
            F.col("shared_micronats")
            + F.expr(lump.format(n="na", x="a"))
            + F.expr(lump.format(n="nb", x="b"))
        )
        .cast("long")
        .alias("jsd_micronats"),
    )


def daily_autocorrelation(events: DataFrame) -> DataFrame:
    """E126 — Durbin–Watson statistic of the daily event-count series
    (Durbin & Watson 1950): DW = Σ(d_t − d_{t−1})² / Σ(d_t − d̄)² over
    the observed days in UTC-date order. DW ≈ 2 means day-to-day
    volumes are uncorrelated noise; DW → 0 flags positive
    autocorrelation (ramps, weekly cycles, drifting collectors);
    DW → 4 flags alternation (a flapping upstream) — the ingest-DQ
    companion to w9's per-day anomaly z-scores, one number for the
    whole series.

    Integer-exact: daily counts are bigint; both quadratic forms run
    DECIMAL(38,0) (the mean is eliminated by the n-scaled identity
    Σ(d−d̄)² = (n·Σd² − S²)/n, so DW·1000 = ⌊1000·n·Σdiff² /
    (n·Σd² − S²)⌋ divides non-negative integers — no float anywhere).

    Scale: one map-combinable per-day count aggregate is the only
    data-sized stage; the lag window runs on the DAYS table (bounded
    rows — a year is 365 — so the single-partition window the repo
    bans on data-sized frames is fine here, and documented)."""
    from pyspark.sql.window import Window

    from train_reports_etl_spark.util import repartition_if_coarse

    events = repartition_if_coarse(events)
    daily = (
        events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("d"))
    )
    lagged = daily.withColumn(
        "pd", F.lag("d").over(Window.orderBy("day"))
    )
    dec = "cast({} as decimal(38,0))"
    agg = lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("d").cast("long").alias("total_events"),
        F.sum(F.expr(f"{dec.format('d')} * {dec.format('d')}")).alias("__sq"),
        F.sum(
            F.expr(
                f"case when pd is null then cast(0 as decimal(38,0))"
                f" else ({dec.format('d')} - {dec.format('pd')})"
                f" * ({dec.format('d')} - {dec.format('pd')}) end"
            )
        ).alias("__sd2"),
    )
    return agg.select(
        "n_days",
        "total_events",
        F.expr(
            f"cast((cast(1000 as decimal(38,0)) * {dec.format('n_days')} * __sd2)"
            f" div nullif({dec.format('n_days')} * __sq"
            f" - {dec.format('total_events')} * {dec.format('total_events')},"
            f" cast(0 as decimal(38,0))) as bigint)"
        ).alias("dw_x1000"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_distinct_y: int = 65536,
    max_grid_cells: int = 50_000_000,
) -> DataFrame:
    """E127 — exact Kendall τ-b rank correlation (Kendall 1938, the
    tie-corrected τ-b of Kendall 1945) between two columns, computed
    WITHOUT the naive all-pairs join: the concordance/discordance
    counting twin of E102's Spearman ρ (ρ sees only marginal ranks;
    τ counts joint orderings, so it detects monotone association that
    rank-difference statistics wash out under heavy ties).

    Algorithm (the 100 TB shape): reduce the data to the CONTINGENCY
    CELLS (x, y, cnt) — one corpus-sized aggregate, everything after
    runs on the value-domain-bounded cell/grid tables:

    1. densify to the |X|×|Y| grid by EXPLODING one array literal of
       the distinct y values (driver-collected under
       ``max_distinct_y``): a single Generate node — no join node of
       any kind for the grid, never a CartesianProduct or BNLJ site,
    2. within-x cumulative counts cy(x,y) = Σ_{y'≤y} cnt — a window
       PARTITIONED BY x,
    3. 2D dominance sums A(x,y) = Σ_{x'<x, y'<y} cnt and
       A_le(x,y) = Σ_{x'<x, y'≤y} cnt — windows PARTITIONED BY y over
       the dense grid (every partition is |X| rows),
    4. concordant C = Σ cnt·A; discordant D = Σ cnt·(R(x) − A_le)
       where R(x) = Σ_{x'<x} row mass — each pair counted once from
       its greater-x side; tie pair counts n1/n2/n3 from the marginal
       and cell tables (inclusion–exclusion identity
       C + D = n0 − n1 − n2 + n3 holds by construction).

    All pair counts are exact DECIMAL(38,0) emitted as bigint
    (documented domain: n ≤ 3·10⁹ keeps n(n−1)/2 inside int64 — the
    E101-style runtime guard raises beyond the caps rather than
    wrapping). τ-b itself is the one float:
    round(10⁶·(C−D)/√((n0−n1)(n0−n2))) — IEEE sqrt is correctly
    rounded, so the expression is bit-identical across engines; a
    degenerate denominator (all x or all y tied) yields NULL, not a
    crash. For continuous-domain columns, pre-quantize (the τ of the
    quantized pair is then exact); the gate row runs integer-domain
    token_count × n_chars where |X|·|Y| is bounded by construction.

    Output (1 row): n, pairs_total, ties_x, ties_y, ties_xy,
    concordant, discordant, tau_b_ppm."""
    from pyspark.sql.window import Window

    from train_reports_etl_spark.util import repartition_if_coarse

    df = repartition_if_coarse(df)
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("cnt"))
    ).persist()
    try:
        shape = cells.agg(
            F.countDistinct("x").alias("nx"),
            F.countDistinct("y").alias("ny"),
            F.sum("cnt").cast("long").alias("n"),
        ).collect()[0]
        if shape.n is None or shape.n == 0:
            raise ValueError("kendall_tau_b: empty input")
        if shape.ny > max_distinct_y:
            raise ValueError(
                f"kendall_tau_b: {shape.ny} distinct y values exceed the "
                f"broadcast cap {max_distinct_y}; pre-quantize y"
            )
        if shape.nx * shape.ny > max_grid_cells:
            raise ValueError(
                f"kendall_tau_b: grid {shape.nx}x{shape.ny} exceeds "
                f"{max_grid_cells} cells; pre-quantize"
            )
        if shape.n > 3_000_000_000:
            raise ValueError(
                "kendall_tau_b: n(n-1)/2 would leave int64; sample first"
            )
        # Densify via explode of the distinct-y array computed IN-PLAN
        # (sort_array(collect_set(y)) on a 1-row aggregate, broadcast
        # cross-joined — the allowed scalar-agg BNLJ class): round-10
        # fold of the former driver collect + 523-literal array. The ny
        # cap check above still runs BEFORE this plan executes, so the
        # collect_set buffer is bounded exactly as the literal was.
        #
        # r11 single-pass restructure (guide §2.4 — share the
        # exchange/sort; VERDICT r10 #6): the r10 plan built the grid
        # with an (x, y) LEFT JOIN against cells, attached R(x) through
        # a separate xm→window→broadcast-join branch, and computed the
        # tie-pair counts in two more aggregate branches cross-joined
        # at the end — every branch re-expanding the cells subtree
        # (internal plan: 112 Exchange / 12 Window occurrences). Now
        # ONE flow: group cells by x carrying the (y→cnt) map + the
        # row mass tx, explode the broadcast y-grid against the map
        # (no join node for the grid), and fold EVERYTHING into the
        # final aggregate —
        #   · D's R(x)−A_le term needs no R(x) join at all:
        #     Σ_{x'<x}(tx' − cy(x',y)) ≡ Σ_{x'<x, y'>y} cnt, so it is
        #     just one more running sum over the same y-partition sort;
        #   · n1/n2 ride designated rows (pos==0 = one row per x,
        #     rn==1 = one row per y) instead of separate aggregates.
        # Plan: 2 grid exchanges (groupBy x, window by y) + the final
        # 1-row aggregate; internal plan 112 → ~30 Exchange occurrences.
        ys_arr = cells.agg(F.sort_array(F.collect_set("y")).alias("__ys"))
        xrows = cells.groupBy("x").agg(
            F.map_from_entries(F.collect_list(F.struct("y", "cnt"))).alias("__ym"),
            F.sum("cnt").cast("long").alias("tx"),
        )
        grid = (
            xrows.crossJoin(F.broadcast(ys_arr))
            .select("x", "tx", F.posexplode("__ys").alias("pos", "y"), "__ym")
            .withColumn(
                "cnt",
                F.coalesce(F.element_at("__ym", F.col("y")), F.lit(0)).cast("long"),
            )
            .drop("__ym")
        )
        # cy: within-x cumulative — grid is ALREADY hash-partitioned by
        # x (the groupBy above; Generate/BNLJ preserve partitioning),
        # so this window adds a sort but no exchange.
        wy = Window.partitionBy("x").orderBy("y")
        grid = grid.withColumn("cy", F.sum("cnt").over(wy))
        wxs = Window.partitionBy("y").orderBy("x")
        wx = wxs.rowsBetween(Window.unboundedPreceding, -1)
        wfull = wxs.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        grid = (
            grid.withColumn(
                "a",
                F.coalesce(F.sum(F.col("cy") - F.col("cnt")).over(wx), F.lit(0)),
            )
            .withColumn(
                "b",
                F.coalesce(F.sum(F.col("tx") - F.col("cy")).over(wx), F.lit(0)),
            )
            .withColumn("ty", F.sum("cnt").over(wfull))
            .withColumn("rn", F.row_number().over(wxs))
        )
        dec = "cast({} as decimal(38,0))"
        n = int(shape.n)
        out = (
            grid.agg(
                F.sum(F.expr(f"{dec.format('cnt')} * {dec.format('a')}")).alias(
                    "c_pairs"
                ),
                F.sum(F.expr(f"{dec.format('cnt')} * {dec.format('b')}")).alias(
                    "d_pairs"
                ),
                F.sum(
                    F.expr(f"({dec.format('cnt')} * ({dec.format('cnt')} - 1)) div 2")
                ).alias("n3"),
                F.sum(
                    F.expr(
                        f"case when pos = 0 then ({dec.format('tx')} *"
                        f" ({dec.format('tx')} - 1)) div 2 else 0 end"
                    )
                ).alias("n1"),
                F.sum(
                    F.expr(
                        f"case when rn = 1 then ({dec.format('ty')} *"
                        f" ({dec.format('ty')} - 1)) div 2 else 0 end"
                    )
                ).alias("n2"),
            )
            .select(
                F.lit(n).cast("long").alias("n"),
                F.lit(n * (n - 1) // 2).cast("long").alias("pairs_total"),
                F.col("n1").cast("long").alias("ties_x"),
                F.col("n2").cast("long").alias("ties_y"),
                F.col("n3").cast("long").alias("ties_xy"),
                F.col("c_pairs").cast("long").alias("concordant"),
                F.col("d_pairs").cast("long").alias("discordant"),
                F.expr(
                    f"cast(round(1000000.0"
                    f" * cast(c_pairs - d_pairs as double)"
                    f" / sqrt(cast(nullif({dec.format(str(n * (n - 1) // 2))} - n1,"
                    f" cast(0 as decimal(38,0))) as double)"
                    f" * cast(nullif({dec.format(str(n * (n - 1) // 2))} - n2,"
                    f" cast(0 as decimal(38,0))) as double))) as bigint)"
                ).alias("tau_b_ppm"),
            )
        )
        rows = out.collect()
    finally:
        cells.unpersist()
    return local_frame(
        df.sparkSession,
        rows,
        "n long, pairs_total long, ties_x long, ties_y long, ties_xy long, "
        "concordant long, discordant long, tau_b_ppm long",
    )


def wasserstein1(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    type_a: str = "purchase",
    type_b: str = "view",
) -> DataFrame:
    """E128 — exact 1-Wasserstein (earth-mover) distance between the
    value distributions of two event types: W₁ = ∫|F_a − F_b| dv —
    the INTEGRAL companion that completes the drift quartet (E106 KS =
    the worst single CDF gap, E117 PSI = binned log mismatch, E125
    JSD = categorical distributions; W₁ is the only one with the
    metric's units — "how many cents must move, on average, to turn
    one distribution into the other" — so it is the drift number a
    cost model can consume directly).

    EXACT INTEGER end-to-end: over the sorted distinct cents support,
    W₁ = Σᵢ |cum_a·n_b − cum_b·n_a|·(vᵢ₊₁ − vᵢ) / (n_a·n_b) — the
    cross-multiplied-CDF trick of E106 plus a neighbor gap, so no
    division happens until the single final millicents floor-division;
    the per-value products run DECIMAL(38,0) (|gap|·Δv ≤ n²·range).

    Scale: one map-combinable (cents → c_a, c_b) aggregate, ONE merged
    :func:`distributed_prefix_sums` pass (both CDFs + the neighbor gap
    share a single range-bucketed sort — never a single-partition
    window), a 1-row fold. Per-row ranks never materialize (the
    E100/E106 property)."""
    from train_reports_etl_spark.operators.ranking import (
        distributed_prefix_sums,
    )

    per = (
        events.filter(
            F.col(value_col).isNotNull()
            & F.col(type_col).isin([type_a, type_b])
        )
        .select(
            F.expr(f"cast(round({value_col} * 100) as bigint)").alias("cents"),
            (F.col(type_col) == type_a).cast("long").alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("is_a").cast("long").alias("c_a"),
            F.sum(F.expr("1 - is_a")).cast("long").alias("c_b"),
        )
    )
    # Persist the distinct-cents table: the prefix/lead primitives each
    # run a quantile + histogram action, and unpersisted those would
    # re-execute the corpus-sized aggregate ~6 times (the E99 rescan
    # lesson — measured α 0.97 → sublinear after this persist).
    per = per.persist()
    try:
        # Both CDFs AND the neighbor gap in ONE merged pass (r10:
        # distributed_prefix_sums with lead_name — one bucket exchange
        # + one sort instead of three chained passes, each of which
        # re-executed the upstream windows in its bucket-agg branch).
        cum = distributed_prefix_sums(
            per,
            "cents",
            ["c_a", "c_b"],
            sum_names=["cum_a", "cum_b"],
            lead_name="next_cents",
        )
        totals = per.agg(
            F.sum("c_a").cast("long").alias("n_a"),
            F.sum("c_b").cast("long").alias("n_b"),
        )
        dec = "cast({} as decimal(38,0))"
        rows = (
            cum.crossJoin(F.broadcast(totals))
            .agg(
                F.max("n_a").cast("long").alias("n_a"),
                F.max("n_b").cast("long").alias("n_b"),
                F.count("*").cast("long").alias("n_support"),
                F.sum(
                    F.expr(
                        f"case when next_cents is null then cast(0 as decimal(38,0))"
                        f" else abs({dec.format('cum_a')} * {dec.format('n_b')}"
                        f" - {dec.format('cum_b')} * {dec.format('n_a')})"
                        f" * ({dec.format('next_cents')} - {dec.format('cents')}) end"
                    )
                ).alias("num"),
            )
            .select(
                "n_a",
                "n_b",
                "n_support",
                F.expr(
                    f"cast(({dec.format('1000')} * num)"
                    f" div ({dec.format('n_a')} * {dec.format('n_b')}) as bigint)"
                ).alias("w1_millicents"),
            )
            .collect()
        )
    finally:
        per.unpersist()
    return local_frame(
        events.sparkSession, rows, "n_a long, n_b long, n_support long, w1_millicents long"
    )


def transition_entropy(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """E129 — conditional entropy and Theil's uncertainty coefficient
    of the event-type transition process (Shannon 1948; Theil 1970):
    H(next|prev), H(next), their difference (mutual information) and
    U = MI/H(next) — "how much does knowing the previous event type
    tell you about the next one". U ≈ 0 means the stream is memoryless
    (each event type drawn independently — the healthy telemetry
    shape); U → 1 flags a deterministic flow (retry loops, duplicated
    instrumentation firing in lockstep) — the behavioral-DQ companion
    to w12's raw transition counts.

    Portability: transitions come from one lag window PARTITIONED BY
    USER ordered by (ts, event_id) — the unique-id tiebreak makes the
    sequence, hence every count, deterministic in both engines. All
    counts are exact integers; each entropy term is one shared double
    expression of those integers rounded to integer MICROBITS per cell
    (the transcendental rule; ≤ K² cells bound the rounding bias), so
    the emitted sums, their difference, and the final non-negative
    ppm floor-division are engine-exact.

    Scale: the lag window partitions by user (data-sized but
    per-user-bounded partitions — the w12 shape); everything after
    runs on the ≤ K² transition-cell table."""
    from pyspark.sql.window import Window

    cells = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("nxt"),
            F.lag(type_col)
            .over(
                Window.partitionBy(user_col).orderBy(
                    F.col(ts_col).asc(), F.col(id_col).asc()
                )
            )
            .alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count("*").cast("long").alias("c"))
    ).persist()
    try:
        tot = cells.agg(F.sum("c").cast("long").alias("n")).collect()[0]
        n = int(tot.n or 0)
        if n == 0:
            raise ValueError("transition_entropy: no transitions")
        # r10: one merged action for the three 1-row folds (was three
        # separate jobs over the same cached cell table).
        rmarg = cells.groupBy("prev").agg(F.sum("c").cast("long").alias("r"))
        hc = cells.join(F.broadcast(rmarg), "prev").agg(
            F.sum(
                F.expr(
                    f"cast(round(1000000.0 * (cast(c as double) / {n}.0)"
                    f" * log2(cast(r as double) / cast(c as double)))"
                    f" as bigint)"
                )
            ).alias("h_cond")
        )
        nm = cells.groupBy("nxt").agg(F.sum("c").cast("long").alias("cn"))
        hn = nm.agg(
            F.count("*").cast("long").alias("k"),
            F.sum(
                F.expr(
                    f"cast(round(1000000.0 * (cast(cn as double) / {n}.0)"
                    f" * log2({n}.0 / cast(cn as double))) as bigint)"
                )
            ).alias("h"),
        )
        cnt = cells.agg(F.count("*").cast("long").alias("n_cells"))
        merged = hc.crossJoin(hn).crossJoin(cnt).collect()[0]
        h_cond = merged.h_cond
        h_next_rows = merged
        n_cells = merged.n_cells
    finally:
        cells.unpersist()
    h_next = int(h_next_rows.h)
    mi = h_next - int(h_cond)
    u_ppm = (
        (1_000_000 * max(mi, 0)) // h_next if h_next > 0 else None
    )
    spark = events.sparkSession
    return local_frame(
        spark,
        [
            (
                n,
                int(n_cells),
                int(h_next_rows.k),
                h_next,
                int(h_cond),
                mi,
                u_ppm,
            )
        ],
        "n_transitions long, n_cells long, n_types long, "
        "h_next_microbits long, h_cond_microbits long, mi_microbits long, "
        "theil_u_ppm long",
    )


def event_flow_trigrams(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_count: int = 5,
) -> DataFrame:
    """E131 — frequent event-type trigram flows: the contiguous
    3-step sequential patterns of the per-user event stream (the k=3
    extension of E129's transition matrix — pairwise transitions can
    look healthy while a 3-step loop like view→error→view dominates;
    this is the flow-mining screen that finds it). A lightweight,
    exact special case of sequential-pattern mining (contiguous
    k-grams only — the same restriction the text family's n-grams
    make), not a GSP/PrefixSpan enumeration.

    EVERY flow with count ≥ ``min_count`` is emitted with its exact
    integer count and share_ppm of all trigrams — integer-exact, no
    float anywhere. Sequences order by (ts, id) — the unique-id
    tiebreak that makes every count deterministic in both engines.

    Scale: two lag windows PARTITIONED BY USER over one scan (the w12
    shape), then one ≤K³-key aggregate; the min_count filter bounds
    the emitted rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    tri = (
        events.select(
            F.lag(type_col, 2).over(w).alias("a"),
            F.lag(type_col, 1).over(w).alias("b"),
            F.col(type_col).alias("c3"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b", "c3")
        .agg(F.count("*").cast("long").alias("c"))
    ).persist()
    try:
        total = int(tri.agg(F.sum("c")).collect()[0][0] or 0)
        if total == 0:
            raise ValueError("event_flow_trigrams: no trigrams")
        rows = (
            tri.filter(F.col("c") >= min_count)
            .select(
                F.concat_ws(">", "a", "b", "c3").alias("flow"),
                "c",
                F.expr(f"cast((1000000 * c) div {total} as bigint)").alias(
                    "share_ppm"
                ),
            )
            .collect()
        )
    finally:
        tri.unpersist()
    return local_frame(events.sparkSession, rows, "flow string, c long, share_ppm long")

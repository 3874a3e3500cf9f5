"""E80 — k-anonymity audit over a generalization ladder.

Reference linkage: none — new scope beyond SURVEY.md §2.11. Before a
dataset (or a training corpus's metadata sidecar) is released, the
privacy question is Sweeney's k-anonymity (IJUFKS 2002): does every
combination of quasi-identifiers (nation × segment × balance bucket)
match at least k records? If not, how far up the GENERALIZATION
LADDER (drop the balance, then the segment, then everything but
nation) must the release go before it does?

The ladder is strictly nested, so the whole audit is ONE
``ROLLUP(nation, segment, bal_bucket)`` — a single scan and a single
shuffle computing every level's equivalence classes simultaneously
(Spark expands rollup in the partial aggregate, so map-side combine
still applies per grouping set); ``grouping_id`` labels the level.
All outputs are integer counts — strong oracle (DuckDB speaks the
same ROLLUP + GROUPING dialect).

Scale shape (100 TB): class keys are bounded-width tuples; the
summary per level is a second tiny aggregate over class rows (#
classes ≪ rows). Skewed giant classes are harmless — they only ever
make k-anonymity PASS, and partial counts commute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from train_reports_etl_spark.driver import local_frame

#: grouping_id → ladder level for ROLLUP(nation, segment, bal_bucket):
#: 0 keeps all three, 1 drops the bucket, 3 keeps nation only,
#: 7 is the fully-generalized root (always k-anonymous for n >= k).
LEVELS = {0: 0, 1: 1, 3: 2, 7: 3}


#: grouping_id → level for ROLLUP(nation, bal_bucket) in the
#: l-diversity audit: 0 keeps both QIs, 1 drops the bucket, 3 is root.
L_LEVELS = {0: 0, 1: 1, 3: 2}


def l_diversity_audit(
    customers: DataFrame,
    l: int = 3,  # noqa: E741
) -> DataFrame:
    """E87 — l-diversity audit (Machanavajjhala et al., ICDE'06): the
    attack k-anonymity misses is HOMOGENEITY — a class of 50 records
    is 50-anonymous, but if all 50 share one sensitive value the
    adversary learns it without re-identifying anyone. Distinct
    l-diversity requires every quasi-identifier equivalence class to
    contain ≥ l distinct SENSITIVE values (here: the market segment,
    deliberately excluded from this ladder's QIs).

    Same single-scan shape as :func:`k_anonymity_ladder`: one
    ``ROLLUP(nation, bal_bucket)`` whose per-class aggregate is
    COUNT(DISTINCT sensitive) — Spark plans rollup + distinct as
    expand → partial distinct → merge, so the wide stage carries at
    most (#classes × |sensitive domain|) rows per level, map-side
    deduplicated. All integer counts + a boolean — strong oracle
    (DuckDB shares the ROLLUP/GROUPING/COUNT DISTINCT dialect).

    Giant classes are again harmless (more rows can only add distinct
    values); the failure mode this catches is the SMALL-DOMAIN class,
    which is exactly what the summary counts.
    """
    classes = (
        customers.select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias(
                "bal_bucket"
            ),
            F.col("c_mktsegment").alias("sensitive"),
        )
        .rollup("nation", "bal_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("sensitive").cast("long").alias("n_sens"),
            F.grouping_id().alias("gid"),
        )
    )
    level = F.element_at(
        F.create_map(*[F.lit(x) for kv in L_LEVELS.items() for x in kv]),
        F.col("gid"),
    )
    return (
        classes.withColumn("level", level)
        .groupBy("level")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.min("n_sens").cast("long").alias("min_l"),
            F.sum(F.when(F.col("n_sens") < l, F.col("n")).otherwise(0))
            .cast("long")
            .alias("violating_rows"),
            (F.min("n_sens") >= l).alias("l_diverse"),
        )
        .select(
            F.col("level").cast("int").alias("level"),
            "n_classes",
            "min_l",
            "violating_rows",
            "l_diverse",
        )
    )


def k_anonymity_ladder(
    customers: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Per generalization level: equivalence-class count, smallest
    class, rows living in classes below ``k`` (the re-identifiable
    population), and the pass flag. ``bal_bucket`` is $1000 bands on
    the cents convention (ROUND(bal·100) — the repo's portable money
    form)."""
    classes = (
        customers.select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias(
                "bal_bucket"
            ),
        )
        .rollup("nation", "segment", "bal_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.grouping_id().alias("gid"),
        )
    )
    level = F.element_at(
        F.create_map(*[F.lit(x) for kv in LEVELS.items() for x in kv]),
        F.col("gid"),
    )
    return (
        classes.withColumn("level", level)
        .groupBy("level")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("min_class_size"),
            F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
            .cast("long")
            .alias("violating_rows"),
            (F.min("n") >= k).alias("k_anonymous"),
        )
        .select(
            F.col("level").cast("int").alias("level"),
            "n_classes",
            "min_class_size",
            "violating_rows",
            "k_anonymous",
        )
    )


def t_closeness_audit(
    customers: DataFrame,
    t_ppm: int = 200_000,
) -> DataFrame:
    """E93 — t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07),
    the third rung of the release-audit trio: k-anonymity (E80) bounds
    re-identification, l-diversity (E87) rules out homogeneity, but a
    class can hold l distinct sensitive values in WILDLY skewed
    proportions and still leak (the skewness attack). t-closeness
    requires every QI class's sensitive-value distribution to sit
    within distance t of the GLOBAL distribution — for a categorical
    sensitive attribute the canonical distance is the total
    variational distance TVD = ½ Σ_v |p_class(v) − p_global(v)|.

    EXACT INTEGER TVD: with class counts c_v (n_c total) and global
    counts g_v (n total),

        TVD·ppm = 10⁶ · Σ_v |c_v·n − g_v·n_c|  div  (2·n_c·n)

    and the sum over values ABSENT from the class folds to
    ``n_c·(n − Σ_present g_v)`` (Σ_v g_v = n), so no class×domain
    cross join is ever built. The numerator is computed in
    DECIMAL(38,0) (the a4 wrap-proof discipline, ADVICE r08): bigint
    would wrap silently past n ≳ 3·10⁶ under Spark's default non-ANSI
    mode, producing wrong tvd_ppm where the DuckDB oracle errors;
    decimal holds exactly to n ≈ 10¹⁵ rows (10⁶·2·n² < 10³⁸) and the
    final quotient ≤ 10⁶ fits bigint trivially.

    Same QI ladder as the l-diversity audit — (nation, $1000 band) →
    (nation) → root — built from ONE data-sized scan: the (class,
    sensitive) base aggregate is computed once (persisted, then
    UNPERSISTED before return — ADVICE r08 flagged the leak) and each
    coarser level re-aggregates those tiny rows (classes × |domain|,
    never the data). Each level's summary is a single row, so the
    levels are materialized eagerly inside the persist scope and the
    3-row result is returned as a local DataFrame — the lazy-return /
    no-safe-unpersist-point dilemma doesn't apply to a bounded output.
    Root TVD is identically 0 — a built-in sanity row. Output per
    level: class count, max TVD, rows in classes beyond ``t_ppm``,
    and the pass verdict.
    """
    base = (
        customers.select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias(
                "bal_bucket"
            ),
            F.col("c_mktsegment").alias("sensitive"),
        )
        .groupBy("nation", "bal_bucket", "sensitive")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    spark = customers.sparkSession
    levels = []
    try:
        # r11 stage diet (this row measured 44 AQE stage-jobs — the
        # suite's worst): the global distribution is |sensitive domain|
        # rows (market segments — a handful), so it is COLLECTED once
        # and folded in as literals, removing the glob/tot broadcast
        # subtrees that each level's plan re-expanded; per-class totals
        # come from a window over the class aggregate instead of a
        # groupBy + self-join (one exchange, no join); and the root
        # level is emitted directly — TVD against the global
        # distribution over the single '*' class is identically 0 by
        # definition (the docstring's built-in sanity row), so it needs
        # no data pass at all. 44 → ~13 stage-jobs, identical output.
        gl = {
            r["sensitive"]: r["g"]
            for r in base.groupBy("sensitive")
            .agg(F.sum("c").cast("long").alias("g"))
            .collect()
        }
        n = int(sum(gl.values()))
        gmap = F.create_map(*[F.lit(x) for kv in sorted(gl.items()) for x in kv])
        cks = [
            F.concat_ws("|", F.col("nation"), F.col("bal_bucket")),
            F.col("nation").cast("string"),
        ]
        dec = "cast({} as decimal(38,0))"
        nlit = dec.format(str(n))
        num = (
            f"{dec.format('1000000')} * ({dec.format('present_num')}"
            f" + {dec.format('nc')} * ({nlit} - {dec.format('g_present')}))"
        )
        for lvl, ck in enumerate(cks):
            cls = (
                base.select(ck.alias("ck"), "sensitive", "c")
                .groupBy("ck", "sensitive")
                .agg(F.sum("c").cast("long").alias("c"))
            )
            w = Window.partitionBy("ck")
            per_class = (
                cls.select("ck", "c", gmap[F.col("sensitive")].alias("g"))
                .withColumn("nc", F.sum("c").over(w).cast("long"))
                .groupBy("ck", "nc")
                .agg(
                    F.sum(
                        F.abs(
                            F.expr(dec.format("c")) * F.expr(nlit)
                            - F.expr(dec.format("g")) * F.expr(dec.format("nc"))
                        )
                    )
                    .cast("decimal(38,0)")
                    .alias("present_num"),
                    F.sum("g").cast("long").alias("g_present"),
                )
                .select(
                    "ck",
                    "nc",
                    F.expr(
                        f"cast(({num}) div ({dec.format('2')} * {dec.format('nc')}"
                        f" * {nlit}) as bigint)"
                    ).alias("tvd_ppm"),
                )
            )
            levels.append(
                per_class.agg(
                    F.count("*").cast("long").alias("n_classes"),
                    F.max("tvd_ppm").cast("long").alias("max_tvd_ppm"),
                    F.coalesce(
                        F.sum(F.when(F.col("tvd_ppm") > t_ppm, F.col("nc"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("violating_rows"),
                    (F.max("tvd_ppm") <= t_ppm).alias("t_close"),
                )
                .select(
                    F.lit(lvl).cast("int").alias("level"),
                    "n_classes",
                    "max_tvd_ppm",
                    "violating_rows",
                    "t_close",
                )
            )
        # ONE action for the data-bearing levels (r10: was one collect
        # per level — three jobs over the same cached base rows).
        rows = levels[0].unionByName(levels[1]).collect()
        # Root level ('*'): one class containing everything → TVD ≡ 0.
        # Mirrors the former in-plan row exactly, including the
        # empty-input shape (0 classes, NULL max/verdict).
        if n > 0:
            rows.append((2, 1, 0, 0, bool(0 <= t_ppm)))
        else:
            rows.append((2, 0, None, 0, None))
    finally:
        base.unpersist()
    schema = (
        "level int, n_classes long, max_tvd_ppm long, "
        "violating_rows long, t_close boolean"
    )
    return local_frame(spark, rows, schema)

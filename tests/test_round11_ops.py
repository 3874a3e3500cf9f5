"""Round-11 optimization-round pins.

The ranking primitives' NULL-key contract (ADVICE r10, medium): a NULL
order key must neither inflate real buckets' offsets nor be silently
dropped — NULL rows survive with NULL rank/sums, non-null rows rank
1..n exactly as if the NULLs were absent. Plus the duplicate-key
guard's pruning resistance (ADVICE r10, low): projecting away any
output column must not let Catalyst eliminate the uniqueness check.
"""

from __future__ import annotations

import pytest


def test_distributed_rank_null_keys_keep_null_rank(spark):
    """NULL order keys: kept with NULL rank, non-null rows rank 1..n
    (the pre-r10 collect()-form contract — the r10 inner join dropped
    the NULL rows AND shifted every surviving rank by the NULL count)."""
    from train_reports_etl_spark.operators.ranking import distributed_rank

    df = spark.createDataFrame(
        [(None, 1), (10, 2), (None, 3), (30, 4), (20, 5)],
        "v int, id int",
    )
    rows = distributed_rank(df, "v", ["v", "id"], n_buckets=4).collect()
    assert len(rows) == 5  # nothing dropped
    got = {r.id: r.rnk for r in rows}
    assert got[2] == 1 and got[5] == 2 and got[4] == 3
    assert got[1] is None and got[3] is None


def test_distributed_prefix_sums_null_keys(spark):
    """NULL order keys in the merged prefix/lead pass: NULL running
    sums and NULL lead, with non-null rows' sums exactly as if the
    NULL rows were absent (and no spurious duplicate-key raise from
    the NULL group, whose count_distinct is always 0)."""
    from train_reports_etl_spark.operators.ranking import (
        distributed_prefix_sums,
    )

    df = spark.createDataFrame(
        [(None, 100), (1, 1), (None, 200), (2, 2), (3, 3)],
        "k int, v int",
    )
    rows = distributed_prefix_sums(
        df, "k", ["v"], n_buckets=2, sum_names=["cum"], lead_name="nxt"
    ).collect()
    assert len(rows) == 5
    nn = {r.k: (r.cum, r.nxt) for r in rows if r.k is not None}
    assert nn == {1: (1, 2), 2: (3, 3), 3: (6, None)}
    nulls = [r for r in rows if r.k is None]
    assert all(r.cum is None and r.nxt is None for r in nulls)


def test_prefix_sums_guard_survives_column_pruning(spark):
    """The duplicate-key guard rides the JOIN KEY, so pruning the
    first (or any) sum column from the output cannot optimize the
    assert_true away (ADVICE r10: it was attached only to __off_0)."""
    from train_reports_etl_spark.operators.ranking import (
        distributed_prefix_sums,
    )

    dup = spark.createDataFrame(
        [(1, 5, 1), (1, 6, 1), (2, 7, 1)], "k long, v long, w long"
    )
    out = distributed_prefix_sums(dup, "k", ["v", "w"], sum_names=["cv", "cw"])
    with pytest.raises(Exception, match="duplicate"):
        out.select("cw").collect()  # cv (the old guard carrier) pruned


def _zipfish_docs(spark, n=160, seed=7):
    """Deterministic mixed-vocabulary corpus with planted near-dups:
    enough shared 3-gram shingles that both the jaccard and the
    containment joins emit pairs, plus exact-duplicate planted rows."""
    import random as _random

    rng = _random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(n):
        toks = [vocab[min(59, int(rng.expovariate(0.12)))] for _ in range(rng.randint(3, 30))]
        rows.append((i, " ".join(toks)))
        if i % 5 == 0:  # planted near-dup: copy with a 1-token edit
            mut = list(toks)
            mut[rng.randrange(len(mut))] = vocab[rng.randrange(60)]
            rows.append((10_000 + i, " ".join(mut)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_containment_digest_equals_string_keys(spark):
    """r11 digest-keys property (guide §8: shuffle keys, not payloads):
    joining the posting self-joins on xxhash64(shingle) must reproduce
    the string-keyed result EXACTLY — on a corpus where both paths emit
    a non-trivial pair set — for jaccard (both prefix paths) and
    containment."""
    from train_reports_etl_spark.extensions.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = _zipfish_docs(spark)
    for pf in (False, True):
        s = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in jaccard_pairs(
                docs, 0.5, prefix_filter=pf, digest_keys=False
            ).collect()
        }
        d = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in jaccard_pairs(
                docs, 0.5, prefix_filter=pf, digest_keys=True
            ).collect()
        }
        assert s and s == d, f"prefix_filter={pf}"
    cs = {
        (r.doc_a, r.doc_b, r.containment_ppm)
        for r in containment_pairs(docs, 800_000, digest_keys=False).collect()
    }
    cd = {
        (r.doc_a, r.doc_b, r.containment_ppm)
        for r in containment_pairs(docs, 800_000, digest_keys=True).collect()
    }
    assert cs and cs == cd


def test_shingle_digest_collision_free_on_committed_corpora(spark):
    """xxhash64 injectivity over the committed corpora's distinct
    shingles — the exactness precondition of the digest join (the
    docstring's D²/2⁶⁵ bound made checkable): distinct digest count
    equals distinct shingle count at sf0.001 AND sf0.01."""
    from pyspark.sql import functions as F

    from train_reports_etl_spark.extensions.text import shingle_posting

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        posting = shingle_posting(docs).select("sh").distinct()
        row = posting.agg(
            F.count("*").alias("n_sh"),
            F.countDistinct(F.xxhash64("sh")).alias("n_digest"),
        ).collect()[0]
        assert row.n_sh > 0 and row.n_sh == row.n_digest, sf


def test_hist_kth_matches_sorted_expansion(spark):
    """_hist_kth (driver-side range-refinement order statistic) must
    equal the k-th element of the expanded sorted multiset — including
    the multi-refinement path (value span ≫ 65536) and negatives."""
    import random as _random

    from train_reports_etl_spark.extensions.evaluation import _hist_kth

    rng = _random.Random(11)
    vals = {}
    for _ in range(300):
        v = rng.randrange(-(1 << 40), 1 << 40)  # span forces ≥2 rounds
        vals[v] = vals.get(v, 0) + rng.randint(1, 4)
    hist = spark.createDataFrame(
        list(vals.items()), "v long, c long"
    ).persist()
    expanded = sorted(v for v, c in vals.items() for _ in range(c))
    lo, hi = min(vals), max(vals)
    for k in (1, 2, len(expanded) // 2, len(expanded)):
        assert _hist_kth(hist, "v", "c", [k], lo, hi)[0][0] == expanded[k - 1], k
    hist.unpersist()


def test_mad_outlier_gate_matches_bruteforce(spark):
    """r11 histogram form of the MAD gate vs a literal python
    re-computation (lower medians, k·MAD strict gate) on a corpus with
    heavy ties and an even count."""
    import random as _random

    from train_reports_etl_spark.extensions.evaluation import (
        mad_outlier_gate,
    )

    rng = _random.Random(5)
    rows = [(i, rng.choice([1.0, 2.5, 2.5, 3.0, 50.0])) for i in range(200)]
    ev = spark.createDataFrame(
        [(i, v, "view") for i, v in rows],
        "event_id long, value double, event_type string",
    )
    got = mad_outlier_gate(ev, k=3).collect()[0]
    cents = sorted(round(v * 100) for _, v in rows)
    n = len(cents)
    med = cents[(n + 1) // 2 - 1]
    devs = sorted(abs(c - med) for c in cents)
    mad = devs[(n + 1) // 2 - 1]
    n_out = sum(1 for c in cents if abs(c - med) > 3 * mad)
    assert (got.n, got.med_cents, got.mad_cents, got.n_outliers) == (
        n,
        med,
        mad,
        n_out,
    )


def test_padding_waste_histogram_branch_matches_bruteforce(spark):
    """r11: the length-sorted branch folds out of the length histogram
    (no per-row rank). Pin against a literal python batch simulation,
    with a non-multiple-of-batch-size count and heavy length ties."""
    import random as _random

    from train_reports_etl_spark.extensions.evaluation import padding_waste

    rng = _random.Random(3)
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * rng.choice([1, 2, 2, 3, 7]))) for i in range(101)],
        "doc_id long, text string",
    )
    got = {r.method: r for r in padding_waste(docs, batch_size=8).collect()}
    lens = sorted(
        len(t.split()) for t, in docs.select("text").toPandas().values
    )
    padded = toks = 0
    nb = 0
    for i in range(0, len(lens), 8):
        batch = lens[i : i + 8]
        padded += len(batch) * max(batch)
        toks += sum(batch)
        nb += 1
    g = got["length_sorted"]
    assert (g.n_batches, g.token_sum, g.padded_sum) == (nb, toks, padded)
    assert g.waste_ppm == (1_000_000 * (padded - toks)) // padded


def test_trimmed_winsorized_histogram_matches_bruteforce(spark):
    """r11: the histogram form of E107 vs a literal python trim/clamp,
    on a corpus where BOTH trim boundaries fall inside runs of tied
    values (the boundary-count arithmetic's hard case)."""
    from train_reports_etl_spark.extensions.evaluation import (
        trimmed_winsorized_mean,
    )

    cents = [100] * 5 + [200] * 7 + [300] * 5 + [900] * 3  # n=20, k=4
    ev = spark.createDataFrame(
        [(i, c / 100.0) for i, c in enumerate(cents)],
        "event_id long, value double",
    )
    r = trimmed_winsorized_mean(ev, trim_ppm=200_000).collect()[0]
    s = sorted(cents)
    k = 4
    kept = s[k:-k]
    assert (r.n, r.k_per_side) == (20, 4)
    assert (r.lo_cents, r.hi_cents) == (s[k], s[-k - 1])
    assert r.trimmed_mean_millicents == 1000 * sum(kept) // len(kept)
    wins = sum(kept) + k * s[k] + k * s[-k - 1]
    assert r.winsorized_mean_millicents == 1000 * wins // 20


def test_conformal_threshold_empty_test_split(spark):
    """ADVICE r10 (low): a non-empty calibration split with an EMPTY
    test split must still return one row carrying n_cal and the
    computed q̂ (test-side columns NULL/0), matching the pre-r10
    scalar-collect form — the r10 crossJoin aggregate dropped it."""
    from train_reports_etl_spark.extensions.evaluation import (
        conformal_threshold,
    )

    # only even event_ids -> everything lands in the calibration split
    rows = [(2 * i, (i % 100) / 1.0, "purchase") for i in range(50)]
    ev = spark.createDataFrame(
        rows, "event_id long, value double, event_type string"
    )
    out = conformal_threshold(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_cal == 50 and r.qhat_ppm is not None
    assert r.n_test == 0 and r.n_test_pos is None
    assert r.coverage_ppm is None and r.flagged_ppm is None


def test_conformal_threshold_empty_calibration(spark):
    """Empty calibration split still yields an empty frame (the
    documented r10 contract, re-pinned across the r11 restructure)."""
    from train_reports_etl_spark.extensions.evaluation import (
        conformal_threshold,
    )

    # only odd event_ids -> calibration (even parity) is empty
    rows = [(2 * i + 1, (i % 100) / 1.0, "purchase") for i in range(10)]
    ev = spark.createDataFrame(
        rows, "event_id long, value double, event_type string"
    )
    assert conformal_threshold(ev).count() == 0

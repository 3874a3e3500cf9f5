"""Extension-operator tests: dedup family, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from train_reports_etl_spark.extensions.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from train_reports_etl_spark.extensions.similarity import (
    cosine_near_duplicates,
    ivf_topk_cosine,
    standardize_embeddings,
    topk_cosine,
)
from train_reports_etl_spark.extensions.text import simhash_table


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "THE QUICK BROWN FOX, jumps over the lazy dog!"), # exact dup of 0 normalized
        (3, "completely different content about spark engines"),
        (4, "completely different content about spark engines"),  # exact dup of 3
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_normalized(docs):
    kept, dups = exact_dedup(docs)
    kept_ids = {r.doc_id for r in kept.collect()}
    assert kept_ids == {0, 1, 3, 5}          # lowest id per fingerprint kept
    assert {r.doc_id for r in dups.collect()} == {2, 4}


def test_jaccard_pairs_finds_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(docs, 0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.7
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0   # identical word sets
    assert (3, 4) in pairs and pairs[(3, 4)] == 1.0
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_minhash_agrees_with_exact_jaccard_on_clear_cases(docs):
    got = {(r.doc_a, r.doc_b) for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    # identical docs must collide on every band -> always found
    assert (3, 4) in got
    assert (0, 2) in got
    # completely unrelated docs must not appear
    assert not any({a, b} == {0, 3} for a, b in got)


def test_near_dup_pipelines_release_their_caches(spark, docs):
    """minhash/simhash near-dup own their persist() lifecycle: after the
    call returns, the signature caches are unpersisted — only the two
    localCheckpoint RDDs backing the returned pair tables remain (those
    are ContextCleaner-collected with the DataFrames). A long-lived
    session running these repeatedly must not accumulate storage."""
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    out1 = minhash_near_duplicates(docs, threshold=0.5)
    out2 = simhash_near_duplicates(docs, max_hamming=3)
    out1.collect(), out2.collect()
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    # signature/fingerprint persists (2) gone; checkpoint RDDs (2) remain
    assert len(after - before) == 2


def test_simhash_identical_and_distance(docs):
    sh = {r.doc_id: r.simhash for r in simhash_table(docs).collect()}
    assert sh[3] == sh[4]                     # identical text -> identical simhash
    assert 0 <= sh[0] < 2**16
    got = {(r.doc_a, r.doc_b) for r in simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert (3, 4) in got


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),    # close to 0
        (2, [0.0, 1.0, 0.0], 0),    # orthogonal
        (3, [1.0, 0.05, 0.0], 1),   # close to 0, other label
        (4, [-1.0, 0.0, 0.0], 1),   # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_topk_cosine_exact(vectors):
    out = topk_cosine(vectors, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 3, 1]
    assert out[0].cosine_sim == pytest.approx(1.0)
    assert out[2].cosine_sim == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5)


def test_ivf_probes_nearest_cluster_only(vectors):
    out = ivf_topk_cosine(vectors, [1.0, 0.0, 0.0], k=3, n_probe=1).collect()
    ids = [r.vec_id for r in out]
    # label-0 centroid is nearest; only label-0 vectors scored
    assert set(ids) <= {0, 1, 2} and ids[0] == 0


def test_cosine_near_duplicates_blocked(vectors):
    pairs = {(r.id_a, r.id_b) for r in cosine_near_duplicates(vectors, 0.9, block_col="label").collect()}
    assert pairs == {(0, 1)}   # (0,3) blocked away (different label), (0,2) below threshold


def test_rolling_fingerprint_is_position_sensitive(spark):
    from train_reports_etl_spark.extensions.text import rolling_fingerprint

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha  beta,GAMMA")],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r.fp for r in docs.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert fp[0] != fp[1]          # order matters
    assert fp[0] == fp[2]          # tokenization normalizes case/punct
    empty = spark.createDataFrame([(9, "")], ["doc_id", "text"])
    assert empty.select(rolling_fingerprint("text").alias("fp")).head().fp == 0


def test_winnow_near_dup_pairs(spark):
    from train_reports_etl_spark.extensions.ext_queries import e2_winnow_near_dup  # noqa: F401  (registered)
    from train_reports_etl_spark.extensions.text import winnowed_fingerprints
    from pyspark.sql import functions as _F

    shared = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, shared + " one tail"), (1, shared + " other ending"), (2, "unrelated words only here")],
        ["doc_id", "text"],
    )
    fps = winnowed_fingerprints(docs)
    a = fps.select("fp", _F.col("id").alias("doc_a"))
    b = fps.select("fp", _F.col("id").alias("doc_b"))
    pairs = (
        a.join(b, "fp").filter(_F.col("doc_a") < _F.col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(_F.count("*").alias("n_shared"))
        .filter(_F.col("n_shared") >= 2)
    )
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(0, 1)}


def test_winnowing_shared_run_shares_fingerprint(spark):
    from train_reports_etl_spark.extensions.text import winnowed_fingerprints

    shared = " ".join(f"tok{i}" for i in range(8))          # >= w+k-1 = 8 tokens
    docs = spark.createDataFrame(
        [
            (0, "intro words here " + shared),
            (1, shared + " totally different tail of text"),
            (2, "no overlap with anything else at all whatsoever"),
            (3, "tiny"),                                      # < k tokens
        ],
        ["doc_id", "text"],
    )
    fps = winnowed_fingerprints(docs)
    by_doc = {
        i: {r.fp for r in rows}
        for i, rows in ((i, fps.filter(F.col("id") == i).collect()) for i in range(4))
    }
    assert by_doc[0] & by_doc[1]            # winnowing guarantee
    assert not (by_doc[0] & by_doc[2])
    assert len(by_doc[3]) == 1              # short doc: whole-sequence hash


def test_rp_lsh_finds_planted_near_dups(spark):
    from train_reports_etl_spark.extensions.similarity import rp_lsh_near_duplicates

    import random as _r
    rng = _r.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]          # cosine ~0.9999
    noise = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    rows = [(0, base), (1, near)] + [(i + 2, v) for i, v in enumerate(noise)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.id_a, r.id_b): r.cosine_sim for r in rp_lsh_near_duplicates(df, 0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    # random gaussians in 64-dim are near-orthogonal: no false accepts
    assert set(pairs) == {(0, 1)}


def test_cosine_near_dup_lsh_within_blocks(spark):
    """LSH-banded candidates within blocks: finds planted same-block
    near-dups, never crosses blocks even for identical vectors."""
    import random as _r

    rng = _r.Random(3)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (1, "blk0", base),
        (2, "blk0", near),      # same block, near-dup -> found
        (3, "blk1", base),      # identical to 1 but other block -> never paired
        (4, "blk0", far),       # same block, dissimilar -> verified away
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = cosine_near_duplicates(df, threshold=0.9, lsh_bits=16, dim=64)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in got
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in got)


def test_kmeans_recovers_planted_blobs(spark):
    from train_reports_etl_spark.extensions.clustering import kmeans_assign, kmeans_fit
    import random as _r

    rng = _r.Random(11)
    centers = [[10.0 * (i == j) for j in range(8)] for i in range(3)]
    rows = []
    for vid in range(90):
        c = centers[vid % 3]
        rows.append((vid, [x + rng.gauss(0, 0.3) for x in c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_fit(df, k=3, n_iter=4)
    out = kmeans_assign(df, cents).collect()
    # every planted blob must map to exactly one learned cluster
    blob_to_cluster = {}
    for r in out:
        blob = r.vec_id % 3
        blob_to_cluster.setdefault(blob, set()).add(r.cluster)
    assert all(len(v) == 1 for v in blob_to_cluster.values())
    assert len({next(iter(v)) for v in blob_to_cluster.values()}) == 3
    # deterministic: refit yields identical centroids
    assert kmeans_fit(df, k=3, n_iter=4) == cents


def test_kmeans_portable_fit_recovers_blobs_and_is_deterministic(spark):
    """The integer-quantized (oracle-replayable) fit must still solve
    the clustering problem, and refits must be bit-identical."""
    import random as _r

    from train_reports_etl_spark.extensions.clustering import (
        kmeans_assign,
        kmeans_fit_portable,
    )

    rng = _r.Random(23)
    centers = [[10.0 * (i == j) for j in range(8)] for i in range(3)]
    rows = []
    for vid in range(90):
        c = centers[vid % 3]
        rows.append((vid, [x + rng.gauss(0, 0.3) for x in c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, q = kmeans_fit_portable(df, k=3, n_iter=4)
    out = kmeans_assign(q, cents, vec_col="vq").collect()
    blob_to_cluster = {}
    for r in out:
        blob_to_cluster.setdefault(r.vec_id % 3, set()).add(r.cluster)
    assert all(len(v) == 1 for v in blob_to_cluster.values())
    assert len({next(iter(v)) for v in blob_to_cluster.values()}) == 3
    refit, _ = kmeans_fit_portable(df, k=3, n_iter=4)
    assert refit == cents


def test_standardize_embeddings_per_group(spark):
    """Grouped-map Arrow path agrees with hand-computed stats and
    leaves groups independent."""
    import math

    rows = [
        (1, "a", [1.0, 10.0]),
        (2, "a", [3.0, 10.0]),   # dim 1 constant in group a -> sigma guard
        (3, "b", [100.0, 0.0]),
        (4, "b", [200.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r.vec_id: list(r.embedding) for r in standardize_embeddings(df).collect()}
    # group a dim0: mean 2, std 1 -> -1, +1; dim1 constant -> 0 via guard
    assert out[1] == [-1.0, 0.0] and out[2] == [1.0, 0.0]
    # group b dim0: mean 150, std 50 -> -1, +1; dim1: mean 1, std 1
    assert out[3] == [-1.0, -1.0] and out[4] == [1.0, 1.0]
    assert all(not math.isnan(x) for v in out.values() for x in v)


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0,
    Jaccard well under threshold."""
    from train_reports_etl_spark.extensions.dedup import containment_pairs, jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "one two three four five six seven eight nine ten " + quote +
        " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    pairs = containment_pairs(df, threshold_ppm=800_000).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment_ppm"]) for r in pairs] == [
        (1, 2, 1_000_000)
    ]
    assert jaccard_pairs(df, threshold=0.5).count() == 0


def test_quantize_embeddings_endpoints_and_constant(spark):
    from train_reports_etl_spark.extensions.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5]), (2, [3.0, 3.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    out = {(r["vec_id"], r["pos"]): r["q"] for r in quantize_embeddings(df).collect()}
    assert out[(1, 0)] == -127 and out[(1, 1)] == 127  # lo → -127, hi → +127
    assert -127 <= out[(1, 2)] <= 127
    assert out[(2, 0)] == out[(2, 1)] == out[(2, 2)] == 0  # constant vector


def test_canonical_url_collapses_crawl_variants(spark):
    from train_reports_etl_spark.extensions.text import canonical_url

    variants = [
        (1, "HTTPS://Site7.Example.ORG:443/page/3/?utm_source=feed#top"),
        (2, "https://site7.example.org/page/3"),
        (3, "https://site7.example.org/page/3?utm_campaign=x&utm_medium=y"),
        (4, "https://site7.example.org:8080/page/3?id=9&utm_x=1"),
    ]
    df = spark.createDataFrame(variants, "id long, url string")
    out = {r["id"]: r["c"] for r in df.select("id", canonical_url("url").alias("c")).collect()}
    assert out[1] == out[2] == out[3] == "https://site7.example.org/page/3"
    assert out[4] == "https://site7.example.org:8080/page/3?id=9"


def test_compression_metrics_matches_direct_zlib(spark):
    import zlib

    from train_reports_etl_spark.extensions.text import compression_metrics

    rows = [
        (1, "spam and eggs and spam " * 300),  # ~7 KB, highly compressible
        (2, "The quick brown fox jumps over a lazy dog; 42 xylophones vex."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_metrics(df).collect()}
    for i, t in [(1, rows[0][1]), (2, rows[1][1])]:
        want = len(zlib.compress(t.encode(), 6))
        assert out[i]["n_deflate"] == want
        assert out[i]["ratio_ppm"] == want * 1_000_000 // len(t.encode())
    assert out[1]["verdict"] == "repetitious" and out[2]["verdict"] == "keep"
    assert 3 not in out  # empty docs: ratio undefined, filtered


def test_redact_pii_ip_inside_email_not_double_counted(spark):
    """VERDICT r03 follow-up fixture: an IP-shaped run inside an email
    local part is consumed by <EMAIL> and must not also count as an IP;
    counts equal placeholders actually emitted."""
    from train_reports_etl_spark.extensions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact a1.2.3.4@x.com or 10.0.0.1 and call 555-1234"),
            (2, "no pii at all"),
            (3, "双 emails: a@b.io c@d.io ip 1.2.3.4 in 555-0000"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1.n_emails, r1.n_ips, r1.n_phones) == (1, 1, 1)
    assert r1.redacted == "contact <EMAIL> or <IP> and call <PHONE>"
    assert r1.redacted.count("<IP>") == r1.n_ips
    r2 = out[2]
    assert (r2.n_emails, r2.n_ips, r2.n_phones) == (0, 0, 0)
    r3 = out[3]
    assert (r3.n_emails, r3.n_ips, r3.n_phones) == (2, 1, 1)
    for r in out.values():
        assert r.redacted.count("<EMAIL>") == r.n_emails
        assert r.redacted.count("<PHONE>") == r.n_phones


def test_char_entropy_known_values(spark):
    from train_reports_etl_spark.extensions.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in char_entropy(df).collect()}
    assert out[1].entropy_bits == 0.0 and out[1].n_chars == 4
    assert out[2].entropy_bits == 1.0
    assert out[3].entropy_bits == 2.0
    assert 4 not in out  # zero-char docs contribute nothing


def test_interleave_sources_round_robin(spark):
    from train_reports_etl_spark.extensions.corpus import interleave_sources

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (10, "b"), (11, "b"), (20, "c")],
        ["doc_id", "source"],
    )
    out = sorted(interleave_sources(df).collect(), key=lambda r: r.position)
    # round 1 visits a,b,c; round 2 a,b; round 3 a
    assert [(r.source, r.seq) for r in out] == [
        ("a", 1), ("b", 1), ("c", 1), ("a", 2), ("b", 2), ("a", 3),
    ]
    assert [r.position for r in out] == [1, 2, 3, 4, 5, 6]

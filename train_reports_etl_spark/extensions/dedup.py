"""Document deduplication (E1/E2): exact, set-Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Scale notes (the whole point of these operators):

- **Exact** dedup is a hash groupBy on the md5 fingerprint — one
  shuffle keyed by a 128-bit digest, no text comparison; at 100 TB the
  shuffled payload is (digest, doc_id), not documents.
- **All-pairs Jaccard** via a token inverted index is quadratic in the
  worst case — it is the *verification* stage. The *candidate
  generation* stage at scale is MinHash+LSH banding: candidates meet
  only inside an LSH bucket, so the join key is (band, band_hash) and
  the cross product never materializes globally. The oracle-checked
  query caps the inverted index to rarer tokens (document-frequency
  pruning) which is also how production prefilters behave.
- **SimHash** reduces each doc to a small integer; near-dups are pairs
  within a Hamming radius, found by bucketing on fingerprint chunks
  (pigeonhole: radius ≤ r ⇒ some chunk of r+1 splits matches exactly).
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import Column, DataFrame, Window, functions as F

from train_reports_etl_spark.extensions.text import (
    fingerprint_md5,
    shingle_posting,
    word_set,
)
from train_reports_etl_spark.operators.dedup import keep_last_dedup


# ---------------------------------------------------------------- E1 exact

def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """E1 — exact dedup on normalized content: keep the lowest id per
    fingerprint (deterministic canonical representative).

    Returns (kept, duplicates) like W1. The group key is the md5
    fingerprint, so the shuffle carries digests, not documents.
    """
    with_fp = df.withColumn("__fp", fingerprint_md5(text_col))
    kept, dups = keep_last_dedup(with_fp, ["__fp"], [(-F.col(id_col)).alias("neg_id")])
    return kept.drop("__fp"), dups.drop("__fp")


def duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """E1 companion — one row per duplicated fingerprint with the kept
    id and the group size."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count("*").cast("int").alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


# ------------------------------------------------------------ E2 Jaccard

# Prefix-filter auto-selection thresholds (measured — SCALING.md
# round-7 table + round-8 calibration): the prefix path wins only when
# BOTH hold. Skew = E[df²]/E[df]² over the token document-frequency
# distribution (1.0 = uniform df = zero prefix selectivity; the
# committed closed-vocab corpora measure 1.04–1.29, Zipfian text 6–46).
# est_pairs = Σ_tok df²/2, the plain join's candidate volume — below
# ~5e6 the plain join is cheap enough that the rank-window + verify
# machinery loses (measured: zipf-x1 at ~1e6 pairs, plain 1.9 s vs
# prefix 3.5 s; zipf-x10 at ~8.5e7, plain 27 s vs prefix 8 s).
PREFIX_SKEW_MIN = 2.0
PREFIX_EST_PAIRS_MIN = 5_000_000
_PREFIX_SAMPLE_MOD = 16


def posting_df_stats(posting: DataFrame, sample_mod: int | None = None) -> dict:
    """Sampled document-frequency moments of a normalized (id, sz, tok)
    posting table, for the prefix-filter decision.

    TOKEN-sampled (``hash(tok) % sample_mod == 0``), not posting-
    sampled: each sampled token's df stays EXACT, so the moment
    estimates are unbiased under token sampling, while the aggregate
    state shrinks ``sample_mod``-fold. Still one linear scan of the
    posting — at 100 TB that scan rides the posting build the caller
    already pays (or the cached signature store).

    Returns ``skew`` (E[df²]/E[df]², ≥ 1.0, = 1.0 iff uniform df),
    ``est_pairs`` (estimated plain-join candidate volume Σdf²/2, scaled
    back up by the sampling factor) and ``sampled_tokens``."""
    if sample_mod is None:
        sample_mod = _PREFIX_SAMPLE_MOD
    dfreq = (
        posting.filter(F.abs(F.xxhash64("tok")) % sample_mod == 0)
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    row = dfreq.agg(
        F.count("*").alias("ntok"),
        F.sum("df").alias("s1"),
        F.sum(F.col("df") * F.col("df")).alias("s2"),
    ).collect()[0]
    if not row["ntok"] or not row["s1"]:
        return {"skew": 1.0, "est_pairs": 0.0, "sampled_tokens": 0}
    skew = float(row["s2"]) * row["ntok"] / (float(row["s1"]) ** 2)
    est_pairs = float(row["s2"]) * sample_mod / 2.0
    return {"skew": skew, "est_pairs": est_pairs, "sampled_tokens": row["ntok"]}


def resolve_prefix_filter(
    posting: DataFrame, prefix_filter: bool | str, caller: str = "jaccard_pairs"
) -> bool:
    """Resolve the tri-state ``prefix_filter`` argument (False / True /
    ``"auto"``) to a concrete plan choice. ``"auto"`` measures the df
    distribution (:func:`posting_df_stats`) and turns the prefix path
    on only where the round-7 measurements say it wins: skewed
    vocabularies at candidate volumes where the plain join's Σdf²
    shuffle dominates. The decision is logged per run — a 100 TB user
    no longer needs to know the AllPairs literature to get the right
    plan. Result rows are identical either way (property-pinned), so a
    borderline decision costs wall-time only, never correctness."""
    if prefix_filter is True or prefix_filter is False:
        return prefix_filter
    if prefix_filter != "auto":
        raise ValueError(
            f"prefix_filter must be True, False or 'auto', got {prefix_filter!r}"
        )
    stats = posting_df_stats(posting)
    on = (
        stats["skew"] >= PREFIX_SKEW_MIN
        and stats["est_pairs"] >= PREFIX_EST_PAIRS_MIN
    )
    logging.getLogger(__name__).info(
        "%s prefix_filter=auto -> %s (df skew %.2f vs >=%.1f, est candidate "
        "pairs %.2e vs >=%.1e, %d sampled tokens)",
        caller,
        "prefix" if on else "plain",
        stats["skew"],
        PREFIX_SKEW_MIN,
        stats["est_pairs"],
        PREFIX_EST_PAIRS_MIN,
        stats["sampled_tokens"],
    )
    return on


def _pair_length_filter(threshold: float) -> Column:
    """Unordered-pair predicate + exact PPJoin length filter.

    J(A,B) ≤ min(|A|,|B|) / max(|A|,|B|), so ``t·|A| ≤ |B| ≤ |A|/t``
    is NECESSARY for J ≥ t — pruning-only, never drops a true pair.
    The eps guard keeps 1-ulp float noise in t·sz from discarding a
    boundary pair (noise can only lengthen survival). One shared
    builder so the prefix and plain paths of :func:`jaccard_pairs`
    cannot drift — their result-identity is property-pinned.
    """
    eps = 1e-9
    return (
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("sz_b") + eps >= F.lit(threshold) * F.col("sz_a"))
        & (F.col("sz_a") + eps >= F.lit(threshold) * F.col("sz_b"))
    )


def _digest_tokens(posting: DataFrame) -> DataFrame:
    """Replace the string set-element key of a normalized (id, sz, tok)
    posting with its 64-bit ``xxhash64`` digest (r11, guide §2.3/§8:
    shuffle keys, not payloads).

    Every downstream stage — the posting self-join, the candidate
    ``groupBy``, and the verify-stage ``collect_list``/``array_intersect``
    — only ever tests set elements for EQUALITY, so an injective-on-the-
    corpus digest yields bit-identical results while the exchanges carry
    8-byte longs instead of ~20-byte 3-gram shingle strings (measured:
    e2_containment_dup 32.6 MB of shuffle at sf0.1, the suite's largest;
    the digest roughly halves every posting-join exchange).

    Exactness: identical results whenever xxhash64 is injective over the
    corpus's distinct shingles — pinned by test on both committed corpora
    (``count(distinct sh) == count(distinct xxhash64(sh))``) and by a
    digest-vs-string property test. Collision math at scale: D distinct
    shingles collide anywhere with probability ≈ D²/2⁶⁵ (sf0.1's D≈3·10⁵
    → 2·10⁻⁹; even D=10¹² → ~3% chance of ONE colliding shingle pair
    globally, which perturbs a single pair's intersection count by at
    most 1). Callers needing the string behavior pass
    ``digest_keys=False``."""
    return posting.withColumn("tok", F.xxhash64("tok"))


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_width: int | None = 3,
    posting: DataFrame | None = None,
    prefix_filter: bool | str = "auto",
    digest_keys: bool = True,
) -> DataFrame:
    """E2 — all-pairs set Jaccard ≥ threshold via an inverted index.

    The set unit is word ``shingle_width``-grams (None → word sets).
    Shingles, not words: on a small vocabulary every doc shares most
    *words*, so word-set posting lists go quadratic (measured 112 s vs
    ~5 s at sf0.1) and similarity saturates; shingles keep posting
    lists short and share the unit with MinHash, whose estimate this
    query verifies exactly.

    ``prefix_filter`` applies the EXACT prefix-filtering principle of
    the all-pairs similarity-join literature (AllPairs / PPJoin —
    Bayardo et al. WWW'07, Xiao et al. WWW'08): under any global token
    order, a pair with J(A,B) ≥ t must share a token among each side's
    first ``|X| − ⌈t·|X|⌉ + 1`` tokens (else the achievable overlap
    ``⌈t·|X|⌉`` cannot be reached). Ordering by document frequency
    ascending indexes each doc's RAREST tokens; candidates are then
    verified exactly from full shingle arrays (``array_intersect``)
    with the PPJoin length filter ``t·|A| ≤ |B| ≤ |A|/t`` applied at
    candidate time. Result-identical to the plain posting join (pinned
    by property test + both committed corpora).

    Default ``"auto"`` (round 8): the round-7 measurement said the
    choice depends on the corpus — prefix selectivity comes entirely
    from df VARIANCE. On a Zipfian vocabulary (real text) rare-token
    prefixes collapse the candidate set and the filter wins at scale;
    on the committed synthetic's closed 30-word vocabulary every
    shingle has ~equal df, prefixes are just "half of each doc", and
    the rank/verify machinery costs more than the small-constant
    quadratic it avoids. ``"auto"`` now measures that distinction per
    run (:func:`resolve_prefix_filter`: sampled df-skew + candidate-
    volume estimate, decision logged) instead of leaving it to a flag
    only a reader of SCALING.md knows — the gate corpora resolve to
    the plain join, Zipfian corpora above ~5e6 candidates to prefix,
    with identical rows either way. Pass an explicit bool to skip the
    one-aggregate decision scan.

    Output: (doc_a < doc_b, jaccard).

    The posting table comes from :func:`shingle_posting` (codegen
    window-lead shingling — measured 5× faster than the array-HOF
    form at sf0.1); the self-join is hinted merge so neither 500k-row
    side gets broadcast by AQE.

    ``posting``: a precomputed/materialized (id, sh, sz) shingle
    posting table (e.g. from the signature store) — overrides the
    internal build, so the self-join's two branches scan a cached
    table instead of each re-running tokenize + shingle.

    ``digest_keys`` (default True, r11): join/verify on the 64-bit
    ``xxhash64`` digest of each shingle instead of the string — same
    results (see :func:`_digest_tokens` for the injectivity argument
    and tests), roughly half the exchange bytes at every scale.
    """
    posting = _as_token_posting(df, id_col, text_col, shingle_width, posting)
    if digest_keys:
        posting = _digest_tokens(posting)
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    if resolve_prefix_filter(posting, prefix_filter, caller="jaccard_pairs"):
        # min overlap each side must reach relative to its OWN size;
        # round-before-ceil kills 1-ulp float noise in t·sz (a too-small
        # ceil only lengthens the prefix — safe — but a noise-inflated
        # ceil would shorten it and lose pairs)
        req = F.ceil(F.round(F.lit(threshold) * F.col("sz"), 9)).cast("int")
        prefix = _df_ranked(posting).filter(
            F.col("rn") <= F.col("sz") - req + 1
        )
        a = prefix.select("tok", F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
        b = prefix.select("tok", F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
        cands = (
            a.join(b.hint("merge"), "tok")
            .filter(_pair_length_filter(threshold))
            .select("doc_a", "doc_b")
            .distinct()
        )
        return (
            _verified_intersections(cands, posting)
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    a = posting.select(F.col("tok"), F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    b = posting.select(F.col("tok"), F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # Applied BEFORE the aggregate, the length filter drops
    # length-incompatible candidates from the groupBy shuffle for free
    # (codegen filter on already-joined rows).
    inter = (
        a.join(b.hint("merge"), "tok")
        .filter(_pair_length_filter(threshold))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _as_token_posting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_width: int | None,
    posting: DataFrame | None,
) -> DataFrame:
    """Normalize the three posting sources to (id, sz, tok)."""
    if posting is not None:
        return posting.select("id", "sz", F.col("sh").alias("tok"))
    if shingle_width:
        built = shingle_posting(df, id_col, text_col, shingle_width, with_size=True)
        return built.select("id", "sz", F.col("sh").alias("tok"))
    sets = df.select(F.col(id_col).alias("id"), word_set(text_col).alias("ws"))
    sets = sets.withColumn("sz", F.size("ws"))
    return sets.select("id", "sz", F.explode("ws").alias("tok"))


def _df_ranked(posting: DataFrame) -> DataFrame:
    """Attach each token's document frequency and a per-doc rarity rank
    (df asc, tok asc — a TOTAL order, since tokens are distinct within
    a doc). The global order every prefix-filter theorem quantifies
    over; rarest-first maximizes selectivity. Both stages are linear:
    one tok-keyed count, one id-keyed window."""
    doc_freq = posting.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    return (
        posting.join(doc_freq, "tok")
        .withColumn("rn", F.row_number().over(w))
    )


def _verified_intersections(cands: DataFrame, posting: DataFrame) -> DataFrame:
    """Exact |A∩B| for candidate pairs from full shingle arrays:
    (doc_a, doc_b, sz_a, sz_b, n_inter). Cost ∝ candidates × (|A|+|B|)
    — linear once candidate generation is bounded; the arrays are
    per-doc shingle sets (≲ thousands of elements), never corpora."""
    sets_df = posting.groupBy("id").agg(
        F.collect_list("tok").alias("toks"), F.first("sz").alias("sz")
    )
    return (
        cands.join(
            sets_df.select(
                F.col("id").alias("doc_a"),
                F.col("toks").alias("toks_a"),
                F.col("sz").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            sets_df.select(
                F.col("id").alias("doc_b"),
                F.col("toks").alias("toks_b"),
                F.col("sz").alias("sz_b"),
            ),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("toks_a", "toks_b")).cast("long"))
        .select("doc_a", "doc_b", "sz_a", "sz_b", "n_inter")
    )


# ------------------------------------------------------- E2 MinHash + LSH

def minhash_signatures(
    df: DataFrame,
    num_perm: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_width: int = 3,
    portable: bool = False,
    posting: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures over word ``shingle_width``-grams.

    Permutations are a Carter-Wegman pairwise-independent family
    ``perm_p(x) = (a_p·h(x) + b_p) mod (2^31−1)`` over ONE base
    xxhash64 per shingle — one string hash + num_perm multiply-adds,
    instead of num_perm independent string hashes (measured ~7× faster
    at sf0.1). Naive "h1 + p·h2" does NOT work: for growing p the
    argmin is dominated by min-h2, correlating all permutations and
    inflating the similarity estimate (observed 139 vs 25 true pairs).
    All arithmetic stays < 2^62, so ANSI sessions (which raise on long
    overflow) behave identically to non-ANSI ones.

    Implementation is explode + hash-aggregate, NOT num_perm ×
    ``array_min(transform(...))``: the nested-HOF form re-evaluates the
    shingle expression once per permutation (measured ~5× slower and
    outside codegen); the agg form computes shingles once, runs the
    mins inside whole-stage codegen with map-side partial aggregation,
    and shuffles exactly one row per document.

    ``posting``: a precomputed (id, sh[, sz]) shingle posting table —
    skips the tokenize + shingle stage when the caller already
    materialized it.
    """
    if posting is None:
        posting = shingle_posting(df, id_col, text_col, shingle_width)
    mersenne = (1 << 31) - 1
    coeffs = minhash_coefficients(num_perm)
    if portable:
        # md5-nibble 60-bit base hash (sketches.hash60): slower than
        # xxhash64 but bit-identical in DuckDB, making the WHOLE
        # MinHash+LSH pipeline strong-oracle-checkable.
        from train_reports_etl_spark.extensions.sketches import hash60

        h = F.pmod(hash60("sh"), F.lit(mersenne))
    else:
        h = F.pmod(F.xxhash64("sh"), F.lit(mersenne))
    hashed = posting.select("id", h.alias("h"))
    mins = hashed.groupBy("id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(mersenne))).alias(f"h{p}")
            for p, (a, b) in enumerate(coeffs)
        ]
    )
    return mins.select("id", F.array(*[F.col(f"h{p}") for p in range(num_perm)]).alias("sig"))


def minhash_coefficients(num_perm: int = 32) -> list[tuple[int, int]]:
    """Carter-Wegman (a, b) pairs from a FIXED seed — the query and
    its SQL oracle embed the same literals, so signatures agree
    bit-for-bit across engines."""
    mersenne = (1 << 31) - 1
    rng = random.Random(0xB5)  # fixed seed: signatures are deterministic
    return [(rng.randrange(1, mersenne), rng.randrange(0, mersenne)) for _ in range(num_perm)]


def _band_explode(
    sigs: DataFrame, bands: int, rows_per_band: int, portable: bool
) -> DataFrame:
    """(id, band, bh) rows — one per band per signature."""

    def band_key(b: int):
        vals = [F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
        if portable:
            # join key = the band's values verbatim (':'-joined) — no
            # engine-specific hash in the key, so the oracle can build
            # the identical key with STRING_AGG. Same cardinality
            # behavior as hashing: only equal bands collide.
            return F.concat_ws(":", *[v.cast("string") for v in vals])
        return F.hash(*vals).cast("string")

    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4, portable: bool = False
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``rows_per_band`` elements; docs sharing any band hash are
    candidates. The shuffle key is (band_id, band_hash) — tiny, uniform
    — and only bucket-mates ever meet, which is what makes near-dup
    feasible at 100 TB.
    """
    banded = _band_explode(sigs, bands, rows_per_band, portable)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    signatures: DataFrame | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """E2 — full MinHash+LSH near-dup pipeline: signatures → banded
    candidates → exact signature-similarity verification.
    ``posting`` forwards to :func:`minhash_signatures` when signatures
    are built here.

    Pass ``signatures`` (a precomputed/materialized (id, sig) table,
    e.g. from the signature store) to skip signature computation; the
    caller then owns that frame's lifecycle.

    Output: (doc_a, doc_b, est_jaccard) where est_jaccard is the
    fraction of agreeing signature elements (unbiased Jaccard
    estimator).

    The signature table is persisted before fan-out: the banding
    self-join and the verification join reference it three times, and
    without materialization each branch would re-run the full
    shingle+hash expression tree (signatures are tiny — num_perm longs
    per doc — so this caches KBs per thousand docs, never documents).
    The cache's lifecycle is owned HERE: the final (small) pair table
    is eagerly local-checkpointed, which cuts its lineage back to the
    cached signatures, so the cache can be unpersisted before
    returning — repeated calls in a long-lived session leave no
    storage behind (checkpoint blocks are ContextCleaner-collected
    with the returned DataFrame, unlike CacheManager entries).
    """
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must be divisible by bands={bands}")
    rows_per_band = num_perm // bands
    owns_cache = signatures is None
    if signatures is None:
        signatures = minhash_signatures(
            df, num_perm, id_col, text_col, portable=portable, posting=posting
        ).persist()
    sigs = signatures
    cands = minhash_lsh_candidates(sigs, bands, rows_per_band, portable=portable)
    a = sigs.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(num_perm)
    )
    pairs = (
        cands.join(a, "doc_a").join(b, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    if not owns_cache:
        return pairs
    out = pairs.localCheckpoint(eager=True)
    sigs.unpersist()
    return out


def incremental_minhash_near_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    new_signatures: DataFrame | None = None,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """E2 — INCREMENTAL MinHash+LSH: today's batch against the
    existing corpus, never batch×batch or corpus×corpus. This is the
    production dedup mode — a daily ingest checks only new×old, and
    the corpus-side signatures/bands are the reusable materialized
    artifact (computed once at ingest time, appended daily; here they
    are recomputed because the bench has no cross-run storage, but the
    band table IS the thing a real pipeline persists).

    The candidate join is new-bands ⋈ corpus-bands on (band, key):
    cost scales with |new| × collision rate, independent of corpus
    size beyond the band-bucket fan-in. Output: (new_doc, corpus_doc,
    est_jaccard ≥ threshold).

    ``new_signatures`` / ``corpus_signatures``: precomputed (id, sig)
    tables (e.g. filters of one materialized signature store frame).
    Either side may be provided independently — only the missing side
    is computed (and persisted/released here); a supplied frame's
    lifecycle stays with the caller.
    """
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must be divisible by bands={bands}")
    rows_per_band = num_perm // bands
    owned = []
    nsig, osig = new_signatures, corpus_signatures
    if nsig is None:
        nsig = minhash_signatures(new_df, num_perm, id_col, text_col, portable=portable).persist()
        owned.append(nsig)
    if osig is None:
        osig = minhash_signatures(corpus_df, num_perm, id_col, text_col, portable=portable).persist()
        owned.append(osig)
    nb = _band_explode(nsig, bands, rows_per_band, portable)
    ob = _band_explode(osig, bands, rows_per_band, portable)
    cands = (
        nb.alias("n")
        .join(ob.alias("o"), ["band", "bh"])
        .select(F.col("n.id").alias("new_doc"), F.col("o.id").alias("corpus_doc"))
        .distinct()
    )
    a = nsig.select(F.col("id").alias("new_doc"), F.col("sig").alias("sig_a"))
    b = osig.select(F.col("id").alias("corpus_doc"), F.col("sig").alias("sig_b"))
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(num_perm)
    )
    pairs = (
        cands.join(a, "new_doc")
        .join(b, "corpus_doc")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_doc", "corpus_doc", "est_jaccard")
    )
    if not owned:
        return pairs
    out = pairs.localCheckpoint(eager=True)
    for sig in owned:
        sig.unpersist()
    return out


# ----------------------------------------------------------- E2 SimHash

def bucket_pair_estimate(keyed: DataFrame, keys: list[str]) -> tuple[int, int]:
    """Candidate-volume estimate for a bucketed pair join: Σ C(m, 2)
    over bucket sizes m, plus the total keyed-row count — ONE cheap
    groupBy over the join's existing bucket keys (the aggregate state
    is #buckets, e.g. 64 for 4×4-bit simhash chunks). The sum is an
    upper bound on distinct output pairs (cross-bucket dedup only
    shrinks it), so "estimate ≤ budget" guarantees the exact path is
    output-safe. This is the output-saturation guard VERDICT r07 asked
    for: at 100 TB an unbounded quadratic-output query should degrade
    to a number and a bounded sample, never an OOM."""
    row = (
        keyed.groupBy(*keys)
        .agg(F.count("*").alias("m"))
        .agg(
            F.sum(F.expr("m * (m - 1) div 2")).alias("pairs"),
            F.sum("m").alias("rows_total"),
        )
        .collect()[0]
    )
    return int(row["pairs"] or 0), int(row["rows_total"] or 0)


def _neighbor_window_candidates(
    keyed: DataFrame,
    keys: list[str],
    order_cols: list[str],
    width: int,
    payload: dict[str, str],
) -> DataFrame:
    """Deterministic bounded-degrade candidate generator: within each
    bucket, order members totally by ``order_cols`` and pair each
    member with its next ``width`` successors — ≤ rows×width candidate
    rows, independent of bucket sizes. The probe side is an explode of
    rank sequences joined back on (keys, rank) equality, so no m² ever
    materializes (a rank-RANGE self-join would re-create the blowup
    inside the join). ``payload`` maps output-suffix -> source column
    (e.g. {"id": "id", "sh": "sh"}) carried on both sides as _a/_b."""
    wdw = Window.partitionBy(*keys).orderBy(*order_cols)
    ranked = keyed.withColumn("__rn", F.row_number().over(wdw))
    probes = ranked.select(
        *keys,
        *[F.col(src).alias(f"{suf}_a") for suf, src in payload.items()],
        F.explode(
            F.sequence(F.col("__rn") + 1, F.col("__rn") + F.lit(width))
        ).alias("__rn"),
    )
    build = ranked.select(
        *keys,
        "__rn",
        *[F.col(src).alias(f"{suf}_b") for suf, src in payload.items()],
    )
    return probes.join(build, [*keys, "__rn"]).drop("__rn")


def _simhash_chunk_explode(fingerprints: DataFrame, id_col: str) -> DataFrame:
    """(id, sh, chunk, cv) rows — one per 4-bit chunk of each 16-bit
    ``simhash``: the pigeonhole bucket key of
    :func:`simhash_near_duplicates` and of its cost estimate
    (``cost.estimate_simhash_pairs``)."""
    return fingerprints.select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk"),
                        F.shiftright("simhash", 4 * k).bitwiseAND(F.lit(0xF)).alias("cv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk", "cc.cv")


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
    max_pairs: int | None = 500_000_000,
) -> DataFrame:
    """E2 — SimHash near-dup: pairs of docs whose 16-bit simhash is
    within ``max_hamming``. Candidate generation by pigeonhole chunking
    (4 chunks of 4 bits: distance ≤3 ⇒ at least one chunk equal), then
    exact Hamming verification — bucketed join, never all-pairs.

    Pass ``fingerprints`` (a precomputed/materialized
    (id_col, simhash) table, e.g. from the signature store) to skip
    the hash computation; otherwise fingerprints are cached across the
    chunk self-join's two branches and, as in
    :func:`minhash_near_duplicates`, the final pair table is eagerly
    local-checkpointed so the cache is released before return.

    The Hamming predicate is applied BEFORE the candidate
    deduplication: 4-bit chunks of a 16-bit hash are coarse buckets
    (16 values/chunk), so the raw chunk join emits orders of magnitude
    more candidate rows than survive the distance filter — running
    ``distinct`` first would shuffle the whole candidate fan-out,
    while filter-then-distinct shuffles only true near-dup pairs.

    ``max_pairs`` — output-saturation guard (round 8; motivated by the
    x30 probe OOMing on ~1.4e9 TRUE pairs, a 16-bit-hash saturation,
    not a machinery defect). Before the join, Σ C(m,2) over the 64
    chunk buckets (:func:`bucket_pair_estimate` — a 64-group
    aggregate) upper-bounds the distinct output; at or below the
    budget the exact path runs untouched (gate corpora estimate ~3e6,
    x10 ~3e8 — both exact under the 5e8 default). Above it, the query
    degrades DETERMINISTICALLY instead of OOMing: each doc is paired
    only with its ``width`` rank-successors per bucket under the
    (sh, id) total order (:func:`_neighbor_window_candidates`, width ≤
    64, output ≤ 4·width·n) — sorted-hash neighbors, so the sample
    concentrates on the closest pairs — and the decision + estimate
    are logged. ``None`` disables the guard.
    """
    from train_reports_etl_spark.extensions.text import simhash_table

    if not 0 <= max_hamming < 4:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 3]: 4-chunk pigeonhole "
            "candidate generation is lossless only for Hamming distance <= 3"
        )
    owns_cache = fingerprints is None
    if fingerprints is None:
        fingerprints = simhash_table(df, id_col, text_col).persist()
    chunks = _simhash_chunk_explode(fingerprints, id_col)
    saturated = False
    if max_pairs is not None:
        est, chunk_rows = bucket_pair_estimate(chunks, ["chunk", "cv"])
        saturated = est > max_pairs
        if saturated:
            n = chunk_rows // 4
            width = max(1, min(64, max_pairs // max(1, 4 * n)))
            logging.getLogger(__name__).warning(
                "simhash_near_duplicates output saturated: ~%.2e candidate "
                "pairs over budget %.1e — degrading to the deterministic "
                "rank-window sample (width=%d per chunk bucket, output "
                "<= %d rows)",
                float(est),
                float(max_pairs),
                width,
                4 * n * width,
            )
            cands = _neighbor_window_candidates(
                chunks,
                ["chunk", "cv"],
                ["sh", "id"],
                width,
                {"doc": "id", "sh": "sh"},
            ).filter(F.col("doc_a") != F.col("doc_b"))
    if not saturated:
        a, b = chunks.alias("a"), chunks.alias("b")
        cands = (
            a.join(b, ["chunk", "cv"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("doc_a"), F.col("a.sh").alias("sh_a"), F.col("b.id").alias("doc_b"), F.col("b.sh").alias("sh_b"))
        )
    pairs = (
        cands.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        # canonical unordered orientation: the rank-window sample pairs
        # in (sh, id) order, not id order — least/greatest unifies both
        # paths before the distinct
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )
    if not owns_cache:
        return pairs
    out = pairs.localCheckpoint(eager=True)
    fingerprints.unpersist()
    return out


def new_documents(
    today: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E1 — incremental dedup: rows of ``today`` whose normalized
    content fingerprint does not appear in ``seen``. Left-anti join on
    the md5 digest; at scale ``seen`` is a persisted fingerprint table
    (digest per historical doc), so the daily increment joins against
    digests, never against the 100 TB text corpus."""
    t = today.withColumn("__fp", fingerprint_md5(text_col))
    s = seen.select(fingerprint_md5(text_col).alias("__fp")).distinct()
    return t.join(s, "__fp", "left_anti").drop("__fp")


# -------------------------------------------------------- E2 containment

def containment_pairs(
    df: DataFrame,
    threshold_ppm: int = 800_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_width: int = 3,
    posting: DataFrame | None = None,
    prefix_filter: bool | str = "auto",
    digest_keys: bool = True,
) -> DataFrame:
    """E2 — asymmetric shingle containment C(A→B) = |A∩B| / |A|.

    Jaccard misses the sub-document case: a short doc fully quoted
    inside a long one has |A∩B| = |A| but a tiny union, so Jaccard
    stays low while containment hits 1.0. Containment is the standard
    unit for quote / excerpt / superset detection in pretraining dedup
    (it is what "document A is contained in B" means).

    Same inverted-index shape as :func:`jaccard_pairs` (shared
    :func:`shingle_posting` input, merge-hinted self-join, never
    all-pairs). Containment is directional — (a→b) and (b→a) are
    distinct findings — but |A∩B| is symmetric, so the default path
    joins each unordered pair once (``<``, like jaccard) and explodes
    both directions after the aggregate; only the ``prefix_filter``
    path keeps a ``!=`` join (its A-side prefix pruning is inherently
    one-sided).

    The score is emitted as integer parts-per-million
    (``n_inter * 1e6 div |A|``): integer division is bit-identical
    across engines, dodging the float-sum portability trap entirely.

    Output: (doc_a, doc_b, containment_ppm) where doc_a's shingles are
    ≥ threshold_ppm contained in doc_b's.

    ``prefix_filter`` (default ``"auto"`` — same measured trade-off
    and df-skew decision as :func:`jaccard_pairs`, via
    :func:`resolve_prefix_filter`): the one-sided form of the exact
    prefix principle. C(A→B) ≥ t needs
    ``|A∩B| ≥ ⌈t·|A|⌉`` — integer-exact here since t is ppm — so
    under the global rarity order a qualifying B must share one of
    A's first ``|A| − ⌈t·|A|⌉ + 1`` tokens. Containment puts NO lower
    bound on the overlap relative to |B| (B may be arbitrarily
    large), so only the probing A-side shrinks to prefixes while the
    B-side stays fully indexed: the per-token join term drops from
    ``m²`` to ``m_prefix·m`` plus the ``|B| ≥ ⌈t·|A|⌉`` length
    filter. Exact candidates, exact verify from full arrays.

    ``posting`` / ``digest_keys``: as in :func:`jaccard_pairs`.
    """
    if posting is None:
        posting = shingle_posting(df, id_col, text_col, shingle_width, with_size=True)
    posting = posting.select("id", "sz", F.col("sh").alias("tok"))
    if digest_keys:
        posting = _digest_tokens(posting)
    ppm_expr = F.expr("n_inter * 1000000 div sz_a").cast("long")
    if resolve_prefix_filter(posting, prefix_filter, caller="containment_pairs"):
        # integer ceil: exact, no float threshold arithmetic at all
        req = F.expr(f"(sz * {threshold_ppm} + 999999) div 1000000").cast("int")
        prefix_a = _df_ranked(posting).filter(F.col("rn") <= F.col("sz") - req + 1)
        a = prefix_a.select(
            "tok",
            F.col("id").alias("doc_a"),
            F.col("sz").alias("sz_a"),
            req.alias("req_a"),
        )
        b = posting.select("tok", F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
        cands = (
            a.join(b.hint("merge"), "tok")
            .filter(
                (F.col("doc_a") != F.col("doc_b"))
                & (F.col("sz_b") >= F.col("req_a"))  # |A∩B| ≤ |B|
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        return (
            _verified_intersections(cands, posting)
            .withColumn("containment_ppm", ppm_expr)
            .filter(F.col("containment_ppm") >= threshold_ppm)
            .select("doc_a", "doc_b", "containment_ppm")
        )
    # |A∩B| is SYMMETRIC even though containment is directional: join
    # each unordered pair ONCE (`<`, like jaccard) and emit both
    # directions afterward with a 2-element explode. The `!=` form
    # pushed every pair through the join+aggregate shuffle twice —
    # measured as the suite's heaviest shuffle row (41 MB at sf0.1,
    # BENCH_FULL shuffle_mb); halving it is free because the per-
    # direction scores derive from the one shared n_inter.
    a = posting.select("tok", F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    b = posting.select("tok", F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    inter = (
        a.join(b.hint("merge"), "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_inter"))
    )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_a"),
                    F.col("doc_b").alias("doc_b"),
                    F.col("sz_a").alias("sz_a"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    F.col("sz_b").alias("sz_a"),
                ),
            )
        ).alias("d"),
        "n_inter",
    ).select("d.doc_a", "d.doc_b", "d.sz_a", "n_inter")
    return (
        directed.withColumn("containment_ppm", ppm_expr)
        .filter(F.col("containment_ppm") >= threshold_ppm)
        .select("doc_a", "doc_b", "containment_ppm")
    )


def softdedup_weights(clusters: DataFrame) -> DataFrame:
    """E91 — duplication-aware SOFT dedup: per-document sampling
    weights inverse to near-dup cluster size, so each distinct piece
    of content contributes equally to a training epoch regardless of
    how many near-copies the crawl collected — the reweight-don't-drop
    alternative to hard removal (publicly described as "soft
    deduplication", e.g. SoftDeDup, He et al. 2024; the exact-prior
    form is 1/cluster_size).

    Input is a (doc_id, cluster_rep, cluster_size) cluster assignment
    (any dedup clustering — winnow CC, exact groups); output adds
    ``weight_ppm = 1_000_000 div cluster_size`` as an EXACT integer
    (floor division both engines), so a cluster's total weight is
    ≤ 1e6 with equality for singletons. Map-only over the cluster
    table — the cost lives in the clustering it composes with."""
    return clusters.select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        F.expr("1000000 div cluster_size").cast("long").alias("weight_ppm"),
    )

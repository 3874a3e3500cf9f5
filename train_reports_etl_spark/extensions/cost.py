"""Dry-run pair-cost estimation API (VERDICT r08 #7).

Every bucketed pair family carries the round-8 output-saturation
guard internally: before the self-join it computes Σ C(m,2) over the
bucket sizes (``dedup.bucket_pair_estimate`` — one #buckets-group
aggregate) and degrades to a bounded deterministic sample when the
estimate exceeds the budget. That decision was private to each
operator; at 100 TB a user wants to COST the job before running it —
"how many candidate pairs would this dedup materialize, and would it
saturate?" — without paying for the join. This module exposes exactly
that: each ``estimate_*_pairs`` function runs only the family's
bucket-key projection plus the tiny estimate aggregate (linear scan,
bounded aggregate state, no pair ever materialized) and returns a
plain dict.

Returned fields (all families):

- ``family`` — which estimator ran
- ``candidate_pairs`` — Σ C(m,2) upper bound on distinct output pairs
- ``rows`` — keyed rows feeding the join (n × buckets-per-row)
- ``max_pairs`` — the budget the real operator would apply
  (``None`` = guard disabled)
- ``would_saturate`` — whether the real call would degrade
- ``degrade_width`` / ``degraded_output_rows`` — the rank-window
  sample geometry the real call would fall back to (present only
  when saturating), mirroring each operator's width formula

The estimate is an UPPER bound on the verified-output row count
(verification predicates and cross-bucket dedup only shrink it) and
EXACT for the candidate join's shuffle fan-out — the number that
decides whether the job is runnable.

Scale shape: every estimator is one scan + one two-level aggregate
whose state is the bucket-count histogram (64 buckets for simhash
chunks, bands×2^band_bits for LSH, #blocks for blocking) — safe to
run on the full 100 TB corpus as a planning query.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _verdict(
    family: str, est: int, rows: int, max_pairs: int | None, width_cap: int = 64
) -> dict[str, Any]:
    out: dict[str, Any] = {
        "family": family,
        "candidate_pairs": est,
        "rows": rows,
        "max_pairs": max_pairs,
        "would_saturate": max_pairs is not None and est > max_pairs,
    }
    if out["would_saturate"]:
        # same width formula as _bucket_pair_candidates / the simhash
        # guard: budget spread over the keyed rows, capped
        width = max(1, min(width_cap, int(max_pairs) // max(1, rows)))
        out["degrade_width"] = width
        out["degraded_output_rows"] = rows * width
    return out


def estimate_simhash_pairs(
    df: DataFrame | None = None,
    fingerprints: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_pairs: int | None = 500_000_000,
) -> dict[str, Any]:
    """Cost of :func:`dedup.simhash_near_duplicates`: Σ C(m,2) over
    the 64 pigeonhole chunk buckets (4 chunks × 16 values). Pass the
    materialized ``fingerprints`` table to skip rehashing."""
    from train_reports_etl_spark.extensions.dedup import (
        _simhash_chunk_explode,
        bucket_pair_estimate,
    )
    from train_reports_etl_spark.extensions.text import simhash_table

    if fingerprints is None:
        if df is None:
            raise ValueError("pass df or fingerprints")
        fingerprints = simhash_table(df, id_col, text_col)
    chunks = _simhash_chunk_explode(fingerprints, id_col)
    est, rows = bucket_pair_estimate(chunks, ["chunk", "cv"])
    return _verdict("simhash_near_duplicates", est, rows, max_pairs)


def estimate_minhash_lsh_pairs(
    df: DataFrame | None = None,
    signatures: DataFrame | None = None,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
    max_pairs: int | None = None,
) -> dict[str, Any]:
    """Cost of :func:`dedup.minhash_near_duplicates`' banded candidate
    join: Σ C(m,2) over (band, band_hash) buckets. The LSH family has
    no internal guard today (its geometry is self-limiting on honest
    thresholds) — pass ``max_pairs`` to evaluate a budget anyway."""
    from train_reports_etl_spark.extensions.dedup import (
        _band_explode,
        bucket_pair_estimate,
        minhash_signatures,
    )

    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must be divisible by bands={bands}")
    if signatures is None:
        if df is None:
            raise ValueError("pass df or signatures")
        signatures = minhash_signatures(df, num_perm, id_col, text_col, portable=portable)
    banded = _band_explode(signatures, bands, num_perm // bands, portable)
    est, rows = bucket_pair_estimate(banded, ["band", "bh"])
    return _verdict("minhash_lsh_candidates", est, rows, max_pairs)


def estimate_rp_lsh_pairs(
    df: DataFrame,
    n_bits: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_pairs: int | None = 100_000_000,
) -> dict[str, Any]:
    """Cost of :func:`similarity.rp_lsh_near_duplicates`: Σ C(m,2)
    over (band, bucket) sign-projection buckets."""
    from train_reports_etl_spark.extensions.dedup import bucket_pair_estimate
    from train_reports_etl_spark.extensions.similarity import (
        random_hyperplanes,
        rp_lsh_buckets,
    )

    if n_bits % band_bits:
        raise ValueError(f"n_bits={n_bits} must be divisible by band_bits={band_bits}")
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_bits)
    b = rp_lsh_buckets(df, planes, band_bits, id_col, vec_col)
    est, rows = bucket_pair_estimate(b, ["band", "bucket"])
    return _verdict("rp_lsh_near_duplicates", est, rows, max_pairs)


def estimate_blocked_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    block_col: str | None = "label",
    max_pairs: int | None = 100_000_000,
) -> dict[str, Any]:
    """Cost of :func:`similarity.cosine_near_duplicates`' exact
    within-block path: Σ C(m,2) over block sizes (one block = the
    whole table when ``block_col`` is None — the quadratic case this
    API exists to warn about)."""
    from train_reports_etl_spark.extensions.dedup import bucket_pair_estimate

    ids = df.select(
        F.col(id_col).alias("id"),
        *(
            [F.col(block_col).alias("blk")]
            if block_col
            else [F.lit(0).alias("blk")]
        ),
    )
    est, rows = bucket_pair_estimate(ids, ["blk"])
    return _verdict("cosine_near_duplicates[exact]", est, rows, max_pairs)


def estimate_blocking_pairs(
    df: DataFrame,
    block_cols: list[str],
    max_pairs: int | None = None,
) -> dict[str, Any]:
    """Generic blocking cost — e.g. the E73 record-linkage compound
    block key, or any user-provided blocking scheme: Σ C(m,2) over
    the block key. The r08 linkage probe found nation-only blocking
    quadratic at 150k rows; this is the planning query that would
    have predicted it."""
    from train_reports_etl_spark.extensions.dedup import bucket_pair_estimate

    est, rows = bucket_pair_estimate(df.select(*block_cols), list(block_cols))
    return _verdict("blocking[" + ",".join(block_cols) + "]", est, rows, max_pairs)


#: dispatcher for the string-keyed surface: estimate_pairs("simhash", df=...)
_FAMILIES = {
    "simhash": estimate_simhash_pairs,
    "minhash_lsh": estimate_minhash_lsh_pairs,
    "rp_lsh": estimate_rp_lsh_pairs,
    "blocked_cosine": estimate_blocked_cosine_pairs,
    "blocking": estimate_blocking_pairs,
}


def estimate_pairs(family: str, **kwargs: Any) -> dict[str, Any]:
    """Dry-run the named pair family's saturation estimate. See the
    per-family functions for parameters; ``family`` is one of
    ``simhash | minhash_lsh | rp_lsh | blocked_cosine | blocking``."""
    try:
        fn = _FAMILIES[family]
    except KeyError:
        raise ValueError(
            f"unknown family {family!r}; known: {sorted(_FAMILIES)}"
        ) from None
    return fn(**kwargs)

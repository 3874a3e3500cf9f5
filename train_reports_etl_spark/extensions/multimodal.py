"""Multimodal column plumbing (E6).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata alongside. The Spark-side machinery — schemas, Arrow-batched
``mapInPandas`` transforms, partition sizing — is real and tested; the
decode step is a deterministic fake (``_fake_gray_image``; the decode
libraries are not in this container). Swap in a real decoder in
production — the surrounding plumbing does not change.

Scale notes: payloads stay in executor memory one Arrow batch at a
time (``maxRecordsPerBatch`` bounds batch bytes); metadata extraction
is a narrow map — no shuffle; downstream filtering on metadata happens
*before* any expensive decode (predicate ordering matters when a row
carries megabytes).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Schema of a multimodal asset table: opaque payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Build a multimodal asset table from the documents fixture:
    payload = utf-8 bytes of the text (a deterministic opaque blob)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.octet_length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
    )


def frame_sample_plan(assets: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """Frame-sampling *plan*: one output row per sampled offset —
    demonstrates payload fan-out (explode) without decoding. For video
    this is the seek-table; the decode of each sampled frame would be a
    second ``mapInPandas`` over (payload, offset)."""
    # floor, not a bare int cast: Spark's cast truncates but DuckDB's
    # rounds, so the oracle twin must share the explicit FLOOR.
    n_samples = F.greatest(
        F.floor(F.col("n_bytes") / every_n_bytes).cast("int"), F.lit(1)
    )
    return assets.select(
        "asset_id",
        "media_type",
        F.explode(F.sequence(F.lit(0), n_samples - 1)).alias("sample_idx"),
    ).withColumn(
        "byte_offset", (F.col("sample_idx") * every_n_bytes).cast("long")
    )


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("phash", LongType(), False),
    ]
)


def _fake_gray_image(payload: bytes, size: int = 32):
    """STUB image decode for pHash: tile the payload bytes into a
    ``size``×``size`` uint8 grayscale raster (truncate / repeat-pad).
    Deterministic, and LOCALITY-PRESERVING in the way a real decode
    is: byte-similar payloads produce pixel-similar images, so the
    perceptual-hash pipeline behaves like it would on real media.
    Swap for PIL → convert('L') → resize((32, 32)) in production."""
    import numpy as np

    n = size * size
    raw = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    reps = -(-n // max(len(raw), 1))
    return np.tile(raw, reps)[:n].astype(np.float64).reshape(size, size)


def phash_table(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    size: int = 32,
    dct_keep: int = 8,
) -> DataFrame:
    """E6 — 64-bit perceptual hash (pHash) per asset: decode to a
    ``size``² grayscale raster (stub), 2-D DCT-II, keep the top-left
    ``dct_keep``² low-frequency block, threshold each coefficient
    against the block median → 64 bits packed into one BIGINT.

    The DCT runs as ONE numpy matmul pair (D · X · Dᵀ) per Arrow batch
    — vectorized over the whole batch, never per-pixel
    Python. Narrow map: payloads in, 16 bytes out; at 100 TB the
    shuffle downstream carries only (id, hash)."""
    import numpy as np

    k = np.arange(size)
    # Orthonormal DCT-II basis (what scipy.fft.dct(norm='ortho') uses).
    d = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * size))
    d *= np.sqrt(2.0 / size)
    d[0] *= np.sqrt(0.5)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            imgs = _np.stack([_fake_gray_image(p, size) for p in pdf[payload_col]])
            # Two batched matmuls (D · X · Dᵀ), O(n·size³); a naive
            # einsum contraction here is O(n·size⁴) and measured ~10 s
            # on 5k assets vs ~0.1 s for matmul.
            coeffs = (d @ imgs @ d.T)[:, :dct_keep, :dct_keep].reshape(len(pdf), -1)
            med = _np.median(coeffs, axis=1, keepdims=True)
            bits = (coeffs > med).astype(_np.uint64)
            weights = (_np.uint64(1) << _np.arange(dct_keep * dct_keep, dtype=_np.uint64))
            hashes = (bits * weights).sum(axis=1).astype(_np.uint64)
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "phash": hashes.view(_np.int64),
                }
            )

    return assets.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def phash_near_duplicates(
    assets: DataFrame,
    max_hamming: int = 7,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """E6 — perceptual near-dup pairs: assets whose 64-bit pHash is
    within ``max_hamming``. Candidates by pigeonhole chunking — 8
    chunks of 8 bits, so distance ≤ 7 guarantees ≥ 1 equal chunk
    (LOSSLESS candidate generation, same argument as the SimHash
    path) — then exact Hamming verify via xor + bit_count. The join
    is bucketed on (chunk, value); the full pair space never forms,
    and shuffles carry (id, 8-byte hash) — never payloads.

    The pigeonhole argument holds only for ``max_hamming`` < 8 (8
    chunks): at distance 8 every chunk can differ, so candidates
    would be silently dropped — rejected up front."""
    return hamming_pairs_64(
        phash_table(assets, id_col, payload_col),
        id_col=id_col,
        hash_col="phash",
        max_hamming=max_hamming,
    )


def resolve_hamming_scheme(max_hamming: int, scheme: str) -> str:
    """Validate a ``hamming_pairs_64`` (max_hamming, scheme) pair and
    resolve ``"auto"`` to a concrete bucket scheme. ONE function shared
    by the Spark operator and its DuckDB oracle twin
    (``ext_queries._hamming_pair_sql``): the two sides must accept the
    same parameter space and resolve defaults identically, or a test
    comparing them on equal arguments could silently compare two
    different relations."""
    if not 0 <= max_hamming < 8:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 7]: 8-chunk pigeonhole "
            "candidate generation is lossless only for Hamming distance <= 7"
        )
    if scheme == "auto":
        scheme = "paired" if max_hamming <= 6 else "mih"
    if scheme not in ("single", "paired", "mih"):
        raise ValueError(
            f"unknown scheme {scheme!r}: expected 'single', 'paired', 'mih' "
            "or 'auto'"
        )
    if scheme == "paired" and max_hamming > 6:
        raise ValueError(
            "scheme='paired' needs >= 2 equal chunks, guaranteed only for "
            f"max_hamming <= 6 (got {max_hamming}); use scheme='mih'"
        )
    return scheme


def hamming_pairs_64(
    hashes: DataFrame,
    id_col: str = "asset_id",
    hash_col: str = "phash",
    max_hamming: int = 7,
    scheme: str = "auto",
) -> DataFrame:
    """The candidate + verify stage of the perceptual near-dup
    pipeline, factored over ANY ≤64-bit integer hash column: chunked
    pigeonhole candidate generation (bucketed join on (chunk, value) —
    the full pair space never forms), then exact Hamming verify via
    xor + bit_count. Pure integer relational algebra — which is why
    the gate can strong-oracle-check it on a SQL-derivable hash
    (``e6_hamming_pair_join`` over ``text.simhash60_table``) even
    though the numpy DCT pHash itself is not SQL-expressible.
    Output: (id_a, id_b, hamming).

    ``scheme`` picks the candidate bucket key:

    - ``"single"`` — 8 chunks of 8 bits; distance ≤ d touches ≤ d
      chunks, so ≥ 8−d chunks are equal: lossless for d ≤ 7. But the
      key space is only 8×256 = 2,048 buckets, so expected bucket size
      is n/256 and the candidate join's Σ m² term grows QUADRATICALLY
      in corpus size with a 1/256 constant — the binding constraint at
      100 TB (a billion hashes → ~4M-row buckets → ~10^13 candidate
      pairs per chunk table).
    - ``"paired"`` — all C(8,2) = 28 ordered chunk *pairs*, keyed on
      the 16-bit concatenation. d ≤ 6 leaves ≥ 2 equal chunks, i.e.
      at least one chunk-pair key matches: lossless for d ≤ 6. The key
      space becomes 28×65,536 ≈ 1.8M buckets — expected bucket size
      shrinks ×256, the quadratic term's constant drops ×256, for 3.5×
      the exploded rows (28 vs 8 per hash). At any realistic corpus
      size past ~10M hashes this wins outright.
    - ``"mih"`` — Multi-Index Hashing (Norouzi, Punjani, Fleet,
      CVPR'12): 4 pieces of 16 bits; the pigeonhole over 4 pieces
      puts ≤ ⌊d/4⌋ ≤ 1 differing bit in SOME piece for every d ≤ 7,
      so an ASYMMETRIC join — probe side enumerates each piece's
      17 radius-1 variants (the value + 16 one-bit flips), index
      side keeps exact piece values — is lossless for d ≤ 7. Key
      space 4×65,536; candidates ≈ 4·17·n²/65,536 ≈ n²/964 vs
      single's n²/32 (~30× fewer) for 68+4 exploded rows per hash vs
      8+8. The ONLY subquadratic-constant scheme available at d = 7,
      where ``paired``'s ≥2-equal-chunks guarantee fails — measured
      8.7× on the pHash corpus at 165k hashes (323 → 37 s,
      SCALING.md round-7).
    - ``"auto"`` (default) — ``paired`` when ``max_hamming ≤ 6``,
      else ``mih``.
    """
    scheme = resolve_hamming_scheme(max_hamming, scheme)

    def cv(k: int):
        return F.shiftrightunsigned("ph", 8 * k).bitwiseAND(F.lit(0xFF))

    def pv(p: int):
        return F.shiftrightunsigned("ph", 16 * p).bitwiseAND(F.lit(0xFFFF))

    ph = hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("ph"))
    ph = ph.localCheckpoint(eager=True)  # hash computed once, reused by both join branches
    if scheme == "mih":
        flips = [0] + [1 << b for b in range(16)]
        probe_keys = [
            F.struct(
                F.lit(p).alias("chunk"),
                pv(p).bitwiseXOR(F.lit(f)).alias("cv"),
            )
            for p in range(4)
            for f in flips
        ]
        index_keys = [
            F.struct(F.lit(p).alias("chunk"), pv(p).alias("cv")) for p in range(4)
        ]
        a = (
            ph.select("id", "ph", F.explode(F.array(*probe_keys)).alias("cc"))
            .select("id", "ph", "cc.chunk", "cc.cv")
            .alias("a")
        )
        b = (
            ph.select("id", "ph", F.explode(F.array(*index_keys)).alias("cc"))
            .select("id", "ph", "cc.chunk", "cc.cv")
            .alias("b")
        )
        # a 1-bit piece difference is caught from EITHER orientation
        # (flipping the differing bit on either side reaches the
        # other), so the a.id < b.id dedup below loses no pair.
    else:
        if scheme == "single":
            keys = [
                F.struct(F.lit(k).alias("chunk"), cv(k).alias("cv")) for k in range(8)
            ]
        else:  # "paired" — resolve_hamming_scheme guarantees the choice
            combos = [(i, j) for i in range(8) for j in range(i + 1, 8)]
            keys = [
                F.struct(
                    F.lit(c).alias("chunk"),
                    (cv(i) * 256 + cv(j)).alias("cv"),
                )
                for c, (i, j) in enumerate(combos)
            ]
        chunks = ph.select(
            "id", "ph", F.explode(F.array(*keys)).alias("cc")
        ).select("id", "ph", "cc.chunk", "cc.cv")
        a, b = chunks.alias("a"), chunks.alias("b")
    # Hamming verify BEFORE the candidate dedup: popcount per duplicate
    # candidate is ~free in codegen, while the .distinct() shuffle shrinks
    # strictly — it now carries only surviving (id_a, id_b, hamming) rows
    # (hamming is functionally determined by the id pair, so distinct over
    # the triple equals distinct over the pair) and drops both 8-byte ph
    # columns from the exchange entirely.
    return (
        a.join(b, ["chunk", "cv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.ph").bitwiseXOR(F.col("b.ph")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

"""Training-corpus construction operators (E7 family): deterministic
splits, stratified sampling, sequence packing, cross-corpus
contamination checks.

No reference citation — new scope beyond SURVEY.md §2.11's E1–E6,
covering the remaining steps a large-scale pretraining data pipeline
runs between "deduped documents" and "training shards":

- **Split assignment** must be a pure function of a stable document
  key (never ``rand()``): re-running the pipeline, adding data, or
  recovering a lost partition must land every document in the same
  split. md5 of the key gives 256 well-mixed buckets; the split is a
  narrow per-row expression — no shuffle at all.
- **Stratified sampling** is per-stratum deterministic top-k by hash
  order — an order-by within each stratum key, k rows survive. At
  scale the window shuffles one row per document keyed by stratum;
  skewed strata behave because only rank ≤ k rows survive the sort
  (Spark's window TopK pushes the limit into the sort for rank
  predicates).
- **Sequence packing** (context-window construction) is a running
  token-budget cumsum per *shard*: sharding first keeps the window
  parallel (a single global ORDER BY would serialize 100 TB through
  one partition); within a shard the assignment is the standard
  "concatenate in corpus order, cut every ``budget`` tokens" rule.
- **Contamination** is the bipartite form of winnowing near-dup: join
  train-side fingerprints to eval-side fingerprints on the
  fingerprint value (bucketed, never all-pairs), count shared prints
  per (train_doc, eval_doc) pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType
from pyspark.sql.window import Window

from train_reports_etl_spark.driver import bounded_collect, local_frame
from train_reports_etl_spark.extensions.text import tokens
from train_reports_etl_spark.util import sql_div

__all__ = [
    "bigram_rarity",
    "hash_bucket",
    "split_assign",
    "stratified_sample",
    "pack_sequences",
    "contamination_pairs",
    "span_dedup",
    "temperature_mix",
    "contamination_fraction",
    "quality_gate",
    "cdc_span_dedup",
]

_HEX = "0123456789abcdef"


def bucket_sql(id_col: str) -> str:
    """The 0–255 hash-bucket expression as SQL text — identical in
    Spark SQL and DuckDB (md5 is bit-identical; nibbles extracted via
    ``instr`` against a hex alphabet, no hex-cast dialect traps)."""
    h = f"md5(cast({id_col} as string))"
    nib = lambda i: f"(instr('{_HEX}', substring({h}, {i}, 1)) - 1)"  # noqa: E731
    return f"({nib(1)} * 16 + {nib(2)})"


def hash_bucket(id_col: str) -> Column:
    """Deterministic 0–255 bucket from md5 of the stringified key."""
    return F.expr(bucket_sql(id_col)).cast("int")


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_upto: int = 205,
    val_upto: int = 230,
) -> DataFrame:
    """E7 — train/val/test assignment as a pure function of the key:
    bucket < ``train_upto`` → train, < ``val_upto`` → val, else test
    (defaults ≈ 80/10/10 of 256). Adds (bucket, split); narrow — no
    shuffle, survives any re-partitioning or re-run unchanged."""
    b = hash_bucket(id_col)
    return df.withColumn("bucket", b).withColumn(
        "split",
        F.when(F.col("bucket") < train_upto, "train")
        .when(F.col("bucket") < val_upto, "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """E7 — deterministic per-stratum sample: the k documents whose
    md5(key) sorts first within each stratum. Hash order is an
    unbiased, reproducible shuffle; ties (hash collisions) break by
    the key itself. Rank ≤ k lets Spark's window group-limit push the
    top-k into the sort — per-stratum state is k rows, not the
    stratum."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(id_col, strata_col, "rn")
    )


def pack_sequences(
    df: DataFrame,
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    shard_col: str = "shard",
    budget: int = 2048,
) -> DataFrame:
    """E7 — sequence packing: concatenate documents in key order and
    cut a context window every ``budget`` tokens; a document belongs to
    the chunk where it *starts*. Per-shard windows keep the cumsum
    parallel (one partition per shard, never a global sort). Returns
    one row per (shard, chunk): doc count, token count, doc-id range.

    Float division by ``budget`` is exact for any corpus below 2^53
    tokens per shard, so the chunk id is bit-stable across engines.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("cum_tokens", F.sum(n_tokens_col).over(w))
    chunk = F.floor((F.col("cum_tokens") - F.col(n_tokens_col)) / float(budget)).cast(
        "long"
    )
    return (
        cum.withColumn("chunk_id", chunk)
        .groupBy(shard_col, "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(n_tokens_col).cast("long").alias("chunk_tokens"),
            F.min(id_col).cast("long").alias("first_doc"),
            F.max(id_col).cast("long").alias("last_doc"),
        )
    )


def contamination_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_upto: int = 205,
    eval_from: int = 230,
    min_shared: int = 2,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """E2/E7 — eval-set contamination: (train_doc, eval_doc) pairs
    sharing ≥ ``min_shared`` winnowed fingerprints, i.e. a common
    token run of ≥ w+k−1 tokens appears in both a training document
    and a held-out one. Bipartite fingerprint-bucket join over the
    posting table — work is proportional to shared prints, never
    |train| × |eval|. The split comes from :func:`hash_bucket` so the
    check needs no precomputed split column. Pass ``fingerprints`` (a
    materialized (id, fp) table, e.g. from the signature store) to
    skip recomputing them — the train and eval branches both read the
    same table, which Spark does not CSE across the join."""
    from train_reports_etl_spark.extensions.text import winnowed_fingerprints

    if fingerprints is None:
        fingerprints = winnowed_fingerprints(docs, id_col=id_col, text_col=text_col)
    fps = fingerprints.withColumn("bucket", hash_bucket("id"))
    tr = fps.filter(F.col("bucket") < train_upto).select(
        F.col("id").alias("train_id"), "fp"
    )
    ev = fps.filter(F.col("bucket") >= eval_from).select(
        F.col("id").alias("eval_id"), "fp"
    )
    return (
        tr.join(ev, "fp")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def heavy_hitters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """E4/E7 — corpus-wide top-``top_n`` tokens with occurrence and
    document counts (vocabulary head / boilerplate audit).

    Exact and still scale-shaped: the explode feeds a token-keyed
    hash agg with map-side partial counts, so the shuffle carries one
    row per distinct token per mapper, not one per occurrence; the
    global order-by-limit plans as TakeOrderedAndProject (each
    partition forwards its local top-n, the driver merges n·P rows).
    The rank window runs on the already-limited ``top_n`` rows. A
    bounded-memory streaming alternative (space-saving / count-min)
    only matters when the *distinct vocabulary* outgrows executors —
    for token vocabularies the exact form wins at any corpus size."""
    from train_reports_etl_spark.extensions.text import tokens
    from pyspark.sql.window import Window as _W

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    agg = tok.groupBy(F.col("t").alias("term")).agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.count_distinct(id_col).cast("long").alias("n_docs"),
    )
    top = agg.orderBy(F.col("n_occurrences").desc(), "term").limit(top_n)
    w = _W.orderBy(F.col("n_occurrences").desc(), "term")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "term",
        "n_occurrences",
        "n_docs",
    )


def build_corpus_summary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
) -> DataFrame:
    """E7 — the end-to-end corpus build, composed from this package's
    own stages: quality gate (token floor) → exact dedup (min-id
    canonical per md5 fingerprint) → deterministic split assignment →
    per-split accounting. One narrow filter, one digest-keyed shuffle,
    one narrow split expression, one 3-group agg — the whole pipeline
    is two shuffles regardless of corpus size."""
    from train_reports_etl_spark.extensions.dedup import exact_dedup
    from train_reports_etl_spark.extensions.text import token_count

    with_tok = docs.select(
        F.col(id_col), F.col(text_col), token_count(text_col).alias("n_tokens")
    )
    filtered = with_tok.filter(F.col("n_tokens") >= min_tokens)
    kept, _dups = exact_dedup(filtered, id_col=id_col, text_col=text_col)
    assigned = split_assign(kept, id_col=id_col)
    return assigned.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min(id_col).cast("long").alias("first_doc"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """E7 — deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws u from its md5 hash
    (uniform, reproducible — never ``rand()``) and scores
    ln(u)/weight; the k highest scores win. Equivalent to ordering by
    u^(1/w) — heavier rows win proportionally more often — but the
    log form avoids pow. The global top-k plans as
    TakeOrderedAndProject (k rows per partition to the driver). The
    score is rounded to 9 dp before ordering so a 1-ulp ``ln``
    difference between engines can't flip a rank (doc id breaks
    ties), and the float key is dropped from the output — rounded
    floats at a half-boundary round differently across engines, so
    only the integer selection is the contract.
    Zero/negative weights are excluded — they can never be sampled."""
    from train_reports_etl_spark.extensions.sketches import hash60

    u = (hash60(f"cast({id_col} as string)") + 1) / F.lit(float((1 << 60) + 1))
    key = F.round(F.log(u) / F.col(weight_col), 9)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
        .drop("sample_key")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """E7 — intra-document chunking: split each document's token
    sequence into windows of ``chunk_tokens`` advancing by
    ``chunk_tokens − overlap`` (trailing partial window kept). The
    counterpart of :func:`pack_sequences` — packing concatenates SHORT
    docs up to the context length, chunking splits LONG docs down to
    it; real pipelines run both.

    One row per (doc, chunk): index, token offset, token count, and
    the chunk text re-joined with single spaces (tokenization is
    canonical, so Spark and the oracle rebuild identical strings).
    Narrow plan — sequence() generates chunk starts per row, explode
    fans out, slice cuts; no shuffle at all."""
    from train_reports_etl_spark.extensions.text import tokens

    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    toked = df.select(
        F.col(id_col), tokens(text_col).alias("toks")
    ).filter(F.size("toks") > 0)
    # starts: 1, 1+step, ... while start <= len (1-based, inclusive)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("toks") - overlap, F.lit(1)),
        F.lit(step),
    )
    chunks = toked.select(
        F.col(id_col), F.col("toks"), F.posexplode(starts).alias("chunk_idx", "start")
    )
    piece = F.slice(F.col("toks"), F.col("start"), F.lit(chunk_tokens))
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int"),
        F.col("start").cast("int").alias("start_tok"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
) -> DataFrame:
    """E1 — span-level (paragraph-analog) exact dedup with document
    reassembly: cut each document's token stream into consecutive
    ``span_tokens``-token spans, keep only the globally-FIRST
    occurrence of each distinct span text (order: doc id, span index),
    and rebuild every document from its surviving spans.

    This is the Dolma/RefinedWeb "paragraph dedup" shape adapted to
    the synthetic corpus (its texts carry no newlines, so fixed-width
    token spans stand in for paragraphs); boilerplate that repeats
    across documents — headers, footers, licence blocks — vanishes
    from every copy but the first.

    Scale shape: one narrow explode (sequence + slice per row), one
    window shuffle keyed by span text (fixed-width spans bound the key
    size; a salted/md5-keyed variant carries a 16-byte digest instead
    of the text when spans are long), one groupBy(doc) to reassemble.
    Documents whose every span is a repeat disappear — the caller
    anti-joins against the output to list fully-duplicate docs.
    """
    from train_reports_etl_spark.extensions.text import tokens

    toked = df.select(
        F.col(id_col), tokens(text_col).alias("toks")
    ).filter(F.size("toks") > 0)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(span_tokens))
    spans = toked.select(
        F.col(id_col), F.col("toks"), F.posexplode(starts).alias("span_idx", "start")
    ).select(
        F.col(id_col),
        F.col("span_idx").cast("int"),
        F.array_join(F.slice("toks", F.col("start"), F.lit(span_tokens)), " ").alias(
            "span_text"
        ),
    )
    first = Window.partitionBy("span_text").orderBy(id_col, "span_idx")
    kept = spans.withColumn("rn", F.row_number().over(first)).filter(F.col("rn") == 1)
    ordered = F.array_sort(F.collect_list(F.struct("span_idx", "span_text")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(ordered, lambda s: s["span_text"]), " "
        ).alias("dedup_text"),
        F.count("*").cast("int").alias("n_spans_kept"),
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 20,
) -> DataFrame:
    """E1 — sliding-window exact substring duplication (the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    shape): hash EVERY ``window_tokens``-token window (stride 1, not
    the fixed-stride spans of :func:`span_dedup`), find windows whose
    hash occurs more than once anywhere in the corpus, and report the
    per-document fraction of tokens covered by at least one duplicated
    window.

    Returns one row per document that contains any duplicated
    substring: ``(id, n_tokens, dup_tokens, dup_ppm)`` where
    ``dup_tokens`` is the exact size of the union of the duplicated
    windows' [start, start+w-1] intervals (gaps-and-islands merge —
    overlapping windows are not double-counted) and ``dup_ppm`` is the
    integer ppm fraction (``dup_tokens * 10^6 div n_tokens``, never a
    float).

    Scale shape: the explode emits one (md5 digest, id, start) row per
    window — 16-byte keys, never window text; the duplicate-key filter
    is one digest-keyed groupBy with map-side partial counts; the
    interval union is a per-document window (keyed by doc, bounded by
    the doc's own window count). Nothing is quadratic: a window
    repeated k times costs k rows, and the suffix-array the reference
    algorithm builds single-node is replaced by the digest shuffle —
    the standard distributed approximation (exact for fixed w).
    """
    from train_reports_etl_spark.extensions.text import tokens

    w = window_tokens
    # Codegen formulation (the shingle_posting lesson): posexplode the
    # tokens once, then a lead() chain + concat_ws builds each window
    # inside whole-stage codegen — the array-slice form interprets a
    # HOF per window and measured ~10× slower.
    toked = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") >= w
    )
    pos = toked.repartition(id_col).select(
        F.col(id_col), F.posexplode("toks").alias("pos", "tok")
    )
    ww = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", i).over(ww) for i in range(1, w)]
    wins = (
        pos.select(
            F.col(id_col),
            (F.col("pos") + 1).cast("long").alias("start"),
            F.concat_ws(" ", F.col("tok"), *leads).alias("wtext"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select(F.col(id_col), "start", F.md5("wtext").alias("wkey"))
        # Persisted: the duplicate-key rollup AND the rejoin both read
        # this table — without materialization each branch re-runs the
        # tokenize + lead-chain + md5 pipeline (Spark does not CSE
        # across the join). Lifecycle as in minhash_near_duplicates:
        # the small final frame is eagerly checkpointed so the cache
        # releases before return.
        .persist()
    )
    dup_keys = (
        wins.groupBy("wkey")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("wkey")
    )
    dup_wins = wins.join(dup_keys, "wkey").select(
        F.col(id_col), "start", (F.col("start") + w - 1).alias("fin")
    )
    # Interval union per doc: a window starting past the running max
    # end of all earlier windows opens a new island.
    prev = (
        Window.partitionBy(id_col)
        .orderBy("start", "fin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy(id_col)
        .orderBy("start", "fin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = dup_wins.withColumn(
        "new_island",
        (F.col("start") > F.coalesce(F.max("fin").over(prev), F.lit(-1)))
        .cast("long"),
    ).withColumn("island", F.sum("new_island").over(run))
    per_island = flagged.groupBy(id_col, "island").agg(
        (F.max("fin") - F.min("start") + 1).alias("covered")
    )
    per_doc = per_island.groupBy(id_col).agg(
        F.sum("covered").cast("long").alias("dup_tokens")
    )
    sizes = toked.select(F.col(id_col), F.size("toks").cast("long").alias("n_tokens"))
    result = per_doc.join(sizes, id_col).select(
        F.col(id_col),
        "n_tokens",
        "dup_tokens",
        F.expr("dup_tokens * 1000000 div n_tokens").alias("dup_ppm"),
    )
    out = result.localCheckpoint(eager=True)
    wins.unpersist()
    return out


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    budget: int = 200,
) -> DataFrame:
    """E7 — temperature-based multi-source mixing (α = 0.5): each
    source's share of the output budget is proportional to
    ``sqrt(count)`` rather than ``count``, the standard up-weighting
    of small high-quality sources when blending corpora for training.

    Determinism across engines is integer-only where it matters:
    per-source weights are ``floor(sqrt(n) · 10^6)`` (IEEE sqrt and
    multiply are exactly rounded, so the BIGINT weight is identical in
    Spark and DuckDB), the weight total is an integer SUM (order-free,
    unlike float sums), and quotas are BIGINT ``(budget·w) // Z`` —
    no float ever crosses an aggregation. Row selection within a
    source is md5-hash order (replayable on re-runs and backfills).

    Scale shape: the quota table is one row per source (broadcast);
    selection is one window shuffle keyed by source, and rank ≤ quota
    pushes the group-limit into the sort — skewed sources keep only
    quota rows per partition.
    """
    w_int = F.floor(F.sqrt(F.col("n_s")) * F.lit(1000000.0)).cast("long")
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_s")).select(
        source_col, "n_s", w_int.alias("w")
    )
    z = counts.agg(F.sum("w").alias("z"))
    quotas = counts.crossJoin(F.broadcast(z)).select(
        source_col,
        F.col("n_s").cast("long").alias("n_source"),
        # BIGINT `div`, not `/`: Spark's `/` is float division; integer
        # division matches DuckDB's `//` exactly at every boundary.
        F.greatest(F.lit(1).cast("long"), F.expr(f"({budget} * w) div z"))
        .cast("long")
        .alias("quota"),
    )
    order = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.select(F.col(id_col), F.col(source_col)).withColumn(
        "sel_rank", F.row_number().over(order).cast("int")
    )
    return ranked.join(F.broadcast(quotas), source_col).filter(
        F.col("sel_rank") <= F.col("quota")
    ).select(id_col, source_col, "sel_rank", "n_source", "quota")


def contamination_fraction(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_upto: int = 205,
    eval_from: int = 230,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """E7 — per-document contamination score: the fraction of a
    training document's distinct winnowed fingerprints that also
    appear anywhere in the eval split. :func:`contamination_pairs`
    names WHICH eval doc overlaps; this ranks every train doc by HOW
    MUCH of it is eval-tainted — the number a filtering threshold
    actually consumes (drop docs with frac ≥ x before training).

    The fraction is a ratio of two integer counts (exact division,
    bit-identical across engines). Scale shape: fingerprint posting
    join (work ∝ shared prints), then one doc-keyed agg; the eval
    side is distinct fingerprints only — typically small enough to
    broadcast, and never |train|×|eval|. ``fingerprints``: as in
    :func:`contamination_pairs`."""
    from train_reports_etl_spark.extensions.text import winnowed_fingerprints

    if fingerprints is None:
        fingerprints = winnowed_fingerprints(docs, id_col=id_col, text_col=text_col)
    fps = fingerprints.withColumn("bucket", hash_bucket("id"))
    train = fps.filter(F.col("bucket") < train_upto)
    eval_fps = (
        fps.filter(F.col("bucket") >= eval_from).select("fp").distinct()
    )
    hit = F.when(F.col("hit_fp").isNotNull(), 1).otherwise(0)
    joined = train.join(
        F.broadcast(eval_fps.select(F.col("fp").alias("hit_fp"))),
        train["fp"] == F.col("hit_fp"),
        "left",
    )
    return (
        joined.groupBy(F.col("id").alias("train_id"))
        .agg(
            F.count("*").cast("int").alias("n_fps"),
            F.sum(hit).cast("int").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.col("n_contaminated").cast("double") / F.col("n_fps").cast("double"),
        )
    )


def quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_stop_hits: int = 2,
    min_alpha_frac: float = 0.8,
    max_top_token_frac: float = 0.2,
) -> DataFrame:
    """E4/E7 — Gopher-style hard quality GATE (Rae et al. 2021, §A1.1,
    adapted to the newline-free synthetic corpus): per-rule booleans,
    a composite ``keep``, and the first-failing ``reason`` — the shape
    a corpus-filtering stage consumes (filter on keep, report drop
    counts by reason). :func:`~.text.quality_metrics` scores; this one
    decides.

    Rules: word-count bounds, mean-word-length bounds, ≥2 stopword
    hits, ≥80% alphabetic words, most-frequent word ≤20% of the doc
    (the repetition proxy).

    Scale shape: ONE explode of the token array, a (doc, token) count
    agg (map-side-combinable — the word-count shuffle shape), then a
    doc-keyed rollup; no HOF runs per rule. All ratios are single
    exactly-rounded divisions of integer counts — bit-identical in the
    DuckDB oracle. The explode fuses into the scan, so the input goes
    through ``repartition_if_coarse`` first — the round-9 row-group
    audit measured one task holding 90% of the explode stage's runtime
    on a single-row-group copy of the 150k-doc corpus (the trigram-LM
    disease, tools/rowgroup_audit.py)."""
    from train_reports_etl_spark.extensions.text import STOPWORDS, tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    df = repartition_if_coarse(df, min_rows=10_000)
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    per_tok = toked.groupBy(id_col, "tok").agg(F.count("*").alias("n"))
    da = per_tok.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_words"),
        F.max("n").cast("long").alias("max_tok_n"),
        F.sum(F.length("tok") * F.col("n")).cast("long").alias("sum_len"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), F.col("n")).otherwise(0))
        .cast("long")
        .alias("stop_hits"),
        F.sum(F.when(F.col("tok").rlike("[a-z]"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("alpha_hits"),
    )
    base = df.select(F.col(id_col)).join(da, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("max_tok_n", F.lit(0)).alias("max_tok_n"),
        F.coalesce("sum_len", F.lit(0)).alias("sum_len"),
        F.coalesce("stop_hits", F.lit(0)).alias("stop_hits"),
        F.coalesce("alpha_hits", F.lit(0)).alias("alpha_hits"),
    )
    nw = F.col("n_words").cast("double")
    mean_len = F.when(F.col("n_words") > 0, F.col("sum_len") / nw).otherwise(0.0)
    alpha_frac = F.when(F.col("n_words") > 0, F.col("alpha_hits") / nw).otherwise(0.0)
    top_frac = F.when(F.col("n_words") > 0, F.col("max_tok_n") / nw).otherwise(0.0)
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (F.col("mean_word_len") >= min_mean_len)
        & (F.col("mean_word_len") <= max_mean_len),
        "r_stopwords": F.col("stop_hits") >= min_stop_hits,
        "r_alpha": F.col("alpha_frac") >= min_alpha_frac,
        "r_repetition": F.col("top_token_frac") <= max_top_token_frac,
    }
    out = base.select(
        F.col(id_col),
        F.col("n_words"),
        mean_len.cast("double").alias("mean_word_len"),
        F.col("stop_hits"),
        alpha_frac.cast("double").alias("alpha_frac"),
        top_frac.cast("double").alias("top_token_frac"),
    )
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    rules_and = None
    reason = F.lit("ok")
    # first-failing reason in fixed rule order (CASE evaluation order)
    for name in reversed(list(rules)):
        reason = F.when(~F.col(name), F.lit(name)).otherwise(reason)
    for name in rules:
        rules_and = F.col(name) if rules_and is None else (rules_and & F.col(name))
    return out.withColumn("keep", rules_and).withColumn("reason", reason)


def cdc_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
) -> DataFrame:
    """E1 — content-defined-chunking span dedup: chunk boundaries land
    wherever a token's portable 16-bit hash ≡ 0 (mod ``divisor``), so
    an insertion near the top of a document shifts ONLY its own
    chunk's boundaries — downstream chunks keep their content and
    still dedup against other copies. Fixed-width spans
    (:func:`span_dedup`) lose alignment after any edit; this is the
    rsync/LBFS boundary trick applied to token streams, giving mean
    chunk length ≈ ``divisor`` tokens.

    Keep rule and reassembly are identical to :func:`span_dedup`:
    globally-first occurrence of each distinct chunk text (order: doc
    id, chunk index), documents rebuilt from surviving chunks,
    fully-duplicate documents vanish.

    Scale shape: posexplode + one per-doc cumsum window (boundary
    flags), a (doc, chunk) string agg, the span-text first-occurrence
    window, and the doc reassembly agg — all keyed shuffles, nothing
    quadratic, no HOFs in the per-token path."""
    from train_reports_etl_spark.extensions.text import token_value16, tokens

    toked = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    is_b = (token_value16(F.col("tok")) % divisor == 0).cast("int")
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = toked.withColumn("span_idx", F.sum(is_b).over(w_cum).cast("int"))
    ordered_toks = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    spans = chunked.groupBy(id_col, "span_idx").agg(
        F.array_join(
            F.transform(ordered_toks, lambda s: s["tok"]), " "
        ).alias("span_text")
    )
    first = Window.partitionBy("span_text").orderBy(id_col, "span_idx")
    kept = spans.withColumn("rn", F.row_number().over(first)).filter(
        F.col("rn") == 1
    )
    ordered_spans = F.array_sort(F.collect_list(F.struct("span_idx", "span_text")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(ordered_spans, lambda s: s["span_text"]), " "
        ).alias("dedup_text"),
        F.count("*").cast("int").alias("n_spans_kept"),
    )


def bigram_rarity(
    df: DataFrame,
    rare_max_count: int = 2,
    flag_ppm: int = 600_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E4 — bigram language-model rarity filter (CCNet-style quality
    signal without the external LM).

    Perplexity filtering scores each document against a language model
    and drops the tail. The distributable core of that idea needs no
    trained model: the corpus itself is the model. Count every token
    bigram across the corpus (the "LM"), then score each document by
    the fraction of its bigram *occurrences* that are corpus-rare
    (count ≤ ``rare_max_count``). Gibberish, boilerplate mashes and
    wrong-language fragments score high; fluent text in the corpus's
    dominant register scores low — the same separation a perplexity
    cut gives, expressed as two shuffles.

    Scale shape: bigram extraction is posexplode + ``lead`` inside
    codegen (no interpreted HOF); the count table groups by (w1, w2)
    — shuffle carries token pairs, not documents; the score join is
    key-partitioned and AQE-sized. The score is integer ppm (exact
    integer division — no float-sum portability trap), and docs with
    fewer than 2 tokens have no bigrams and drop out (score undefined).

    Output: (doc_id, n_bigrams, n_rare, rare_ppm, verdict) where
    verdict = 'flag' when rare_ppm ≥ flag_ppm else 'keep'.
    """
    toked = df.repartition(id_col).select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        toked.select("id", F.col("tok").alias("w1"), F.lead("tok", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    corpus_counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    scored = bg.join(corpus_counts, ["w1", "w2"])
    per_doc = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("c") <= rare_max_count, 1).otherwise(0))
        .cast("long")
        .alias("n_rare"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        "n_rare",
        F.expr("n_rare * 1000000 div n_bigrams").cast("long").alias("rare_ppm"),
        F.when(
            F.expr("n_rare * 1000000 div n_bigrams") >= flag_ppm, F.lit("flag")
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def interleave_sources(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """E7 — deterministic round-robin interleave across sources: the
    global training order visits every source once per "round" (all
    seq=1 rows across sources, then all seq=2, ...), which is how
    heterogeneous corpora are fed to a trainer without starving small
    sources early.

    Scale shape: per-source sequence is a keyed window (one shuffle by
    source); the GLOBAL position comes from
    :func:`~train_reports_etl_spark.operators.ranking.distributed_rank`
    — range-bucketed rank, so no single-partition window ever sees the
    full corpus. Integers end to end → exact oracle.
    """
    from train_reports_etl_spark.operators.ranking import distributed_rank

    w = Window.partitionBy(source_col).orderBy(id_col)
    seqd = docs.select(source_col, id_col).withColumn(
        "seq", F.row_number().over(w).cast("long")
    )
    ranked = distributed_rank(
        seqd, "seq", ["seq", source_col, id_col], rank_name="position"
    )
    return ranked.select(id_col, source_col, "seq", "position")


# ------------------------------------------------------------- E74

def novelty_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
) -> DataFrame:
    """E74 — per-document n-gram novelty: of a document's distinct
    word ``width``-grams, the ppm fraction never seen in any EARLIER
    document (id order = ingestion order). The memorization/accretion
    signal a curation loop watches: a shard whose docs are mostly
    non-novel is re-crawl or boilerplate and adds little to training
    (Lee et al. 2022 measure the same overlap class to justify dedup).

    ``(id, sh)`` comes from :func:`shingle_posting` (distinct, codegen
    shingling); ``first_seen`` is one window MIN over the gram key and
    the per-doc rollup is one map-side-combinable agg — two shuffles
    total, both keyed on bounded-width values. Integer arithmetic
    (counts + one floor-div ppm) keeps the oracle a strong value-hash.

    Scale (100 TB): the gram-keyed exchange carries short token
    triples (or their 16-byte digests if token length is adversarial
    — same swap E1 documents); per-gram state is one long. A gram hot
    enough to skew its reducer (a boilerplate sentence) is exactly
    what the rollup's map-side combine absorbs: partial MINs commute.
    Never collects; never all-pairs.
    """
    from train_reports_etl_spark.extensions.text import shingle_posting

    posting = shingle_posting(df, id_col, text_col, width)
    first = posting.withColumn(
        "first_seen", F.min("id").over(Window.partitionBy("sh"))
    )
    return (
        first.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("first_seen") == F.col("id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm", F.expr("(n_novel * 1000000) div n_grams").cast("long")
        )
    )


def accretion_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
    buckets: int = 10,
) -> DataFrame:
    """E74 companion — the corpus accretion curve: ingest the corpus
    in id order in ``buckets`` equal id-range slices and report how
    many NEW distinct grams each slice contributes, cumulatively and
    as ppm of the final vocabulary. The "is more crawl still adding
    content?" diagnostic — a flattening curve says the marginal shard
    is duplicates, and is the corpus-level twin of
    :func:`novelty_metrics`.

    Each gram is charged to the bucket of its ``first_seen`` doc:
    one groupBy(gram) MIN, one bucket rollup, then a ``buckets``-row
    cumulative window — the heavy stages are the same two
    gram/id-keyed exchanges as novelty_metrics; the window runs on
    ``buckets`` rows, never on data. The id span arrives via one
    broadcast 1-row scalar (the audited BNLJ scalar-build shape), so
    bucket boundaries are data-derived, not literals.
    """
    from train_reports_etl_spark.extensions.text import shingle_posting

    posting = shingle_posting(df, id_col, text_col, width)
    span = df.agg((F.max(id_col) + 1).cast("long").alias("id_span"))
    per_gram = posting.groupBy("sh").agg(F.min("id").alias("first_seen"))
    bucketed = (
        per_gram.crossJoin(F.broadcast(span))
        .select(
            F.expr(f"(first_seen * {buckets}) div id_span").cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_new_grams"))
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.select(
        "bucket",
        "n_new_grams",
        F.sum("n_new_grams").over(w_cum).cast("long").alias("cum_grams"),
        F.expr(
            "(sum(n_new_grams) over (order by bucket rows between unbounded preceding"
            " and current row) * 1000000) div (sum(n_new_grams) over ())"
        )
        .cast("long")
        .alias("cum_ppm"),
    )


# ------------------------------------------------------------- E79

def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    quota_denom: int = 4,
) -> DataFrame:
    """E79 — DSIR: Data Selection via Importance Resampling (Xie et
    al., NeurIPS 2023) with hashed n-gram features: score every
    document by the log-likelihood ratio between a TARGET distribution
    (here: the ``target_pred`` slice, e.g. trusted English text) and
    the RAW corpus distribution, both modeled as add-one-smoothed
    bag-of-hashed-buckets, then keep the top 1/``quota_denom`` by
    score. The cheap importance sampler that beats heuristics for
    domain-matching pretraining data — scoring is bucket counting, no
    model inference.

    Feature hashing reuses E47's portable md5-nibble bucket (the
    hashing trick both engines compute bit-identically). Per-bucket
    weights are quantized ONCE — ``floor(1000·(log2(c_T+1) −
    log2(c_R+1)))`` — so the per-doc score is an INTEGER dot product
    plus ``n_tokens``·(a 1-row scalar for the normalizer fold): order-
    free exact arithmetic; the only float is one log2 per bucket/
    scalar on identical integer inputs in both engines (the e22
    precedent, here behind a tie-free floor at milli resolution).

    Plan shape (100 TB): the two count tables are map-combinable
    aggregates over 64 keys; the weight table broadcasts; the per-doc
    score is one id-keyed map-combinable SUM; selection uses
    distributed_rank (range-bucketed, never a global window). Output:
    ``(id, n_tokens, score_milli, selected)``.

    The token explode (and the per-doc rollup's token_count twin) fuse
    into the scan, so the input passes through
    ``repartition_if_coarse`` — the round-9 row-group audit measured
    2.3x on a single-row-group corpus copy, three serialized stages.
    """
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.util import repartition_if_coarse

    df = repartition_if_coarse(df, min_rows=10_000)
    toked = df.select(
        F.col(id_col).alias("id"),
        target_pred.alias("is_target"),
        F.explode(tokens(text_col)).alias("t"),
    )
    nib1 = "(instr('0123456789abcdef', substring(md5(t), 1, 1)) - 1)"
    nib2 = "(instr('0123456789abcdef', substring(md5(t), 2, 1)) - 1)"
    bucketed = toked.select(
        "id", "is_target", F.expr(f"(({nib1} * 16 + {nib2}) % {n_buckets})").alias("b")
    )
    # ONE map-combinable pass builds both count tables (raw = all rows,
    # target = the predicate slice) — and `bucketed` feeds this agg AND
    # the per-doc rollup, so it is persisted for the query's lifetime
    # (Spark does not CSE across the weight-join boundary; unpersisted,
    # the corpus explode ran three times — bench measured this query
    # slowest in the suite before the fold).
    bucketed = bucketed.persist()
    counts = bucketed.groupBy("b").agg(
        F.count("*").cast("long").alias("c_r"),
        F.sum(F.col("is_target").cast("long")).cast("long").alias("c_t"),
    )
    w = counts.select(
        "b",
        F.floor(
            F.lit(1000.0)
            * (
                F.log2(F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1))
                - F.log2(F.col("c_r") + F.lit(1))
            )
        )
        .cast("long")
        .alias("w_milli"),
    )
    norm = counts.agg(
        F.floor(
            F.lit(1000.0)
            * (
                F.log2(F.sum("c_r") + F.lit(n_buckets))
                - F.log2(
                    F.sum(F.coalesce(F.col("c_t"), F.lit(0))) + F.lit(n_buckets)
                )
            )
        )
        .cast("long")
        .alias("c_milli"),
    )
    per_doc = (
        bucketed.join(F.broadcast(w), "b")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_milli").cast("long").alias("dot"),
        )
    )
    scored = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .crossJoin(F.broadcast(norm.select("c_milli")))
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("dot", F.lit(0))
                + F.coalesce("n_tokens", F.lit(0)) * F.col("c_milli")
            )
            .cast("long")
            .alias("score_milli"),
        )
    )
    scored = scored.localCheckpoint(eager=True)
    bucketed.unpersist()
    # r10: quota from the checkpointed per-doc table as a broadcast
    # scalar — the old `df.count()` re-scanned the corpus parquet for a
    # number the (one-row-per-doc) scored table already knows.
    cntq = scored.agg(
        F.expr(f"count(*) div {quota_denom}").cast("long").alias("__quota")
    )
    ranked = distributed_rank(
        scored.withColumn("neg", -F.col("score_milli")),
        "neg",
        ["neg", "id"],
        rank_name="rnk",
    )
    return (
        ranked.crossJoin(F.broadcast(cntq))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "score_milli",
            (F.col("rnk") <= F.col("__quota")).alias("selected"),
        )
    )


# ------------------------------------------------------------- E83

#: Row bound of the source table :func:`waterfill_budget` collects.
MAX_WATERFILL_SOURCES = 1_000_000


def _sql_or(a: bool | None, b: bool | None) -> bool | None:
    """SQL three-valued OR (None is NULL)."""
    if a is True or b is True:
        return True
    return None if a is None or b is None else False


def waterfill_budget(
    sources: DataFrame,
    budget: int,
    rounds: int = 6,
) -> DataFrame:
    """E83 — capped proportional token-budget allocation
    (waterfilling): give source g ``min(cap_g, λ·w_g)`` with λ chosen
    so the total equals ``budget`` — the allocation step behind every
    temperature-mixed pretraining recipe once real availability caps
    bite (uncapped proportional shares overdraw small sources; naive
    clipping UNDERSPENDS the budget; waterfilling redistributes the
    clipped surplus to the sources that can absorb it).

    Input: one row per source — ``(source, cap, w)`` with integer
    cap (available tokens) and integer weight (e.g. isqrt(cap) for
    temperature-style flattening). λ is never materialized as a
    float: each fixpoint round recomputes the EXACT rational
    ``num/den = (budget − Σ capped caps) / (Σ uncapped weights)`` and
    tests ``cap·den ≤ w·num`` by integer cross-multiplication — the
    same tie-free exactness discipline as the isotonic hull. The
    fixpoint caps ≥1 source per round, so ``rounds`` ≥ #sources that
    ever cap suffices (gate corpora converge in 2; pinned by an
    extra-round test). Base shares are ``w·num div den`` (SQL ``div``,
    truncating toward zero) and the integer shortfall (< #uncapped)
    tops up by LARGEST REMAINDER (``w·num − base·den``, ties by
    ``source`` ascending, NULL first) — with positive weights, Σ
    allocated equals min(budget, Σ caps) EXACTLY. NULL caps and weights
    follow SQL three-valued logic, as the unrolled SQL oracle does.

    Scale shape: the data-sized work is whatever aggregate BUILDS the
    (source, cap) table. This function brings its G source rows to the
    driver in ONE collect (bound :data:`MAX_WATERFILL_SOURCES`, past
    which it raises :class:`~train_reports_etl_spark.driver.DriverBoundError`),
    runs the fixpoint, base shares and top-up on Python integers —
    exact at any magnitude, no BIGINT product limit — and returns a
    local frame, so no per-round job runs.

    Output: (source, cap, w, allocated, capped) with the invariants
    above. Deterministic — strong oracle (unrolled MATERIALIZED CTEs).
    """
    rows = bounded_collect(
        sources.select(
            "source", F.col("cap").cast("long"), F.col("w").cast("long")
        ),
        MAX_WATERFILL_SOURCES,
        "waterfill_budget sources",
    )

    def num_den(capped):
        num = budget - sum(c for (_, c, _), k in zip(rows, capped) if k and c is not None)
        den = sum(w for (_, _, w), k in zip(rows, capped) if k is False and w is not None)
        return num, den

    capped = [False] * len(rows)
    for _ in range(rounds):
        num, den = num_den(capped)
        capped = [
            _sql_or(k, den > 0 and (None if c is None or w is None else c * den <= w * num))
            for (_, c, w), k in zip(rows, capped)
        ]
    num, den = num_den(capped)
    base, rem = [], []
    for (_, c, w), k in zip(rows, capped):
        q = None if k or w is None else sql_div(w * num, max(den, 1))
        base.append(c if k else q)
        rem.append(0 if k else None if q is None else w * num - q * den)
    caps = [c for _, c, _ in rows if c is not None]
    bases = [b for b in base if b is not None]
    # SQL: least() skips a NULL Σcap; a NULL Σbase makes the shortfall NULL.
    short = (min(budget, sum(caps)) if caps else budget) - sum(bases) if bases else None
    order = sorted(
        range(len(rows)),
        key=lambda i: (rem[i] is None, -(rem[i] or 0), rows[i][0] is not None, rows[i][0]),
    )
    out = []
    for rnk, i in enumerate(order, 1):
        src, c, w = rows[i]
        k = capped[i]
        # base + CAST((NOT capped) AND rnk <= shortfall AS BIGINT), NULL-propagating
        fits = None if short is None else rnk <= short
        top = False if k is True or fits is False else None if k is None or fits is None else True
        alloc = None if base[i] is None or top is None else base[i] + int(top)
        out.append((src, c, w, alloc, k))
    schema = StructType(
        [sources.schema["source"]]
        + [StructField(n, LongType()) for n in ("cap", "w", "allocated")]
        + [StructField("capped", BooleanType())]
    )
    return local_frame(sources.sparkSession, out, schema)


def loo_source_impact(docs: DataFrame) -> DataFrame:
    """E114 — leave-one-source-out impact on the corpus mean token
    count: for each source s, the corpus mean EXCLUDING s versus the
    global mean — the cheapest honest answer to "which source is
    dragging the average document" (the additive-metric special case
    of data-value attribution; contrast with Shapley-style estimates
    that need resampling). A negative delta means removing the source
    RAISES nothing — the source was above-average; positive delta
    means the rest of the corpus is better off without it.

    Integer-exact: per-source (n_s, Σw_s) and global (n, Σw) are
    bigint sums; each LOO mean is one ppm floor-division on their
    differences, NULL (not a crash) for a single-source corpus.
    Output per source: (source, n_docs, sum_tokens,
    loo_mean_tokens_ppm, delta_vs_global_ppm).

    Scale: ONE per-source aggregate over one token-count scan;
    everything after runs on ≤ #sources rows."""
    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    per = (
        docs.select("source", token_count("text").cast("long").alias("w"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("sum_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("sum_tokens").cast("long").alias("sw"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "sum_tokens",
            F.expr(
                "cast((1000000 * (sw - sum_tokens))"
                " div nullif(n - n_docs, 0) as bigint)"
            ).alias("loo_mean_tokens_ppm"),
            F.expr(
                "cast((1000000 * (sw - sum_tokens)) div nullif(n - n_docs, 0)"
                " - (1000000 * sw) div n as bigint)"
            ).alias("delta_vs_global_ppm"),
        )
    )


def dedup_survivorship(docs: DataFrame) -> DataFrame:
    """E118 — dedup survivorship bias by source: exact-duplicate
    groups (md5 of the lowercased alphanumeric canonical form — the
    E97 fingerprint) keep their min-id representative; a source whose
    documents systematically lose that race shrinks in the deduped
    corpus even though its content survives via copies elsewhere —
    the composition-shift audit a dedup stage should ship with.

    Output per source: (source, n_docs, n_kept, n_lost, loss_ppm)
    where lost = documents removed because their group's keeper is
    another document (possibly of another source).

    Integer-exact counts and one ppm floor-div. Scale: one fingerprint
    aggregate (digest shuffle, never text) + one broadcast-size join
    of per-doc keeper verdicts re-aggregated per source."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    base = docs.select(
        "doc_id",
        "source",
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).alias("fp"),
    )
    keepers = base.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        base.join(keepers, "fp")
        .select("source", (F.col("doc_id") == F.col("keep_id")).cast("long").alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_lost"),
            F.expr(
                "cast((1000000 * (n_docs - n_kept)) div n_docs as bigint)"
            ).alias("loss_ppm"),
        )
    )


def source_length_percentiles(
    docs: DataFrame,
    ps: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """E119 — exact per-source token-length percentiles (lower/
    ceiling-rank convention: p-th percentile = min length whose
    cumulative count ≥ ⌈p·n/100⌉ — integer-exact and engine-portable,
    unlike interpolated percentiles): the packing/batching planner's
    per-source length profile (p99 drives padded-batch waste, E98).

    Scale: one (source, n_tokens) count aggregate, then a cumulative
    window PARTITIONED BY SOURCE over the per-source distinct-length
    table (bounded by distinct lengths, never corpus rows — and never
    a global single-partition window)."""
    from pyspark.sql import Window

    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    per_len = (
        docs.select("source", token_count("text").cast("long").alias("len"))
        .groupBy("source", "len")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_len.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("source"))
    )
    aggs = [F.max("n").cast("long").alias("n_docs")]
    for p in ps:
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"cast(({p} * n + 99) div 100 as bigint)"),
                    F.col("len"),
                )
            )
            .cast("long")
            .alias(f"p{p}_tokens")
        )
    return cum.groupBy("source").agg(*aggs)


def cross_split_ngram_contamination(
    docs: DataFrame,
    modulus: int = 10,
    test_residue: int = 0,
    shingle_width: int = 3,
) -> DataFrame:
    """E120 — n-gram-level train/test contamination: the fraction of a
    held-out split's distinct word ``shingle_width``-grams that also
    occur anywhere in the training split. Doc-level contamination
    (e7_contamination) misses partial copies — a test document whose
    paragraphs were scattered across training pages is invisible to
    exact/near-dup doc matching but lights up here (the GPT-3 appendix-C
    style n-gram overlap audit).

    The split is the deterministic SALTED hash
    ``md5(doc_id || ':split') % modulus == test_residue`` (the E97
    lesson: an unsalted/raw id split correlates with any other
    id-derived attribute — here the synthetic source assignment, which
    a raw ``doc_id % 10`` split collapses to 2 of 20 sources). Output
    per test-doc source: (source, n_test_shingles, n_contaminated,
    contamination_ppm) with exact distinct counts and one non-negative
    ppm floor-division.

    Scale: shingles leave the executors only as md5 digests (the
    dedup-family rule: digests shuffle, never text); the train side is
    ONE distinct-digest aggregate, the test side one distinct
    (source, digest) aggregate, joined digest-keyed — never an
    all-pairs or text-payload join."""
    from train_reports_etl_spark.extensions.text import shingle_set
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    split = (
        F.expr(
            "(instr('0123456789abcdef', substring(md5(cast(doc_id as string)"
            " || ':split'), 1, 1)) - 1)"
        ).cast("long")
        % modulus
        == test_residue
    )
    base = docs.select(
        "doc_id",
        "source",
        split.alias("is_test"),
        F.explode(shingle_set("text", shingle_width)).alias("g"),
    ).select("doc_id", "source", "is_test", F.md5("g").alias("d"))
    test_sh = (
        base.filter(F.col("is_test")).select("source", "d").distinct()
    )
    train_sh = (
        base.filter(~F.col("is_test")).select("d").distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    return (
        test_sh.join(train_sh, "d", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_test_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .select(
            "source",
            "n_test_shingles",
            "n_contaminated",
            F.expr(
                "cast((1000000 * n_contaminated) div n_test_shingles as bigint)"
            ).alias("contamination_ppm"),
        )
    )

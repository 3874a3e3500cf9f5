"""Text analysis for training-data pipelines (E4).

All pure Catalyst expressions (no UDFs): tokenization, quality
metrics, language ID, fingerprinting, and a 16-bit SimHash built from
md5 nibbles — md5 is bit-identical across engines, which keeps every
one of these oracle-checkable in DuckDB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..driver import local_frame
from ..util import repartition_if_coarse

#: Minimal function-word profiles for the heuristic language scorer.
#: Deterministic and engine-neutral — the point is the *operator shape*
#: (argmax over marker-token counts), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "zh": ("de5", "le5", "shi4"),  # pinyin-ish placeholders
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

TOKEN_PATTERN = "[a-z0-9]+"  # BPE-ish lowercase word/number pieces


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Token array: lowercased ``[a-z0-9]+`` runs (regexp semantics for
    this class are identical in Java regex and DuckDB's RE2)."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(TOKEN_PATTERN), F.lit(0))


def token_count(text: Column | str) -> Column:
    """E4 — token count over the BPE-ish regex."""
    return F.size(tokens(text)).cast("int")


def word_set(text: Column | str) -> Column:
    """Distinct-token set (the unit for set-based Jaccard dedup)."""
    return F.array_distinct(tokens(text))


SHINGLE_SEP = "\x1f"


def shingle_set(text: Column | str, width: int = 3) -> Column:
    """Distinct word ``width``-gram shingles — the similarity unit for
    near-dup (MinHash and exact Jaccard share it).

    Word *sets* degenerate on small vocabularies (every doc shares most
    words ⇒ quadratic posting joins and meaningless similarities);
    shingles keep posting lists short and similarity discriminative.
    Docs shorter than ``width`` tokens yield one whole-doc shingle;
    empty docs yield an empty set.

    Column-level convenience; for table-scale shingling prefer
    :func:`shingle_posting` — this HOF form runs interpreted and
    measured ~5× slower per shingle.
    """
    toks = tokens(text)
    # greatest(…, 0): WHEN/OTHERWISE does not short-circuit evaluation,
    # so the sequence bound must stay valid for short docs too.
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - width, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, width), SHINGLE_SEP))
    whole = F.array(F.array_join(toks, SHINGLE_SEP))
    return F.array_distinct(
        F.when(F.size(toks) == 0, F.array().cast("array<string>"))
        .when(F.size(toks) < width, whole)
        .otherwise(grams)
    )


def shingle_posting(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """Distinct word ``width``-gram shingles as an exploded posting
    table (id, sh[, sz = shingles per doc]) — the shared input of exact
    Jaccard and MinHash.

    This is the codegen formulation of :func:`shingle_set` + explode:
    posexplode the tokens (cheap), then ``lead(tok, i)`` over a per-doc
    window + ``concat_ws``. The array form's per-shingle
    ``slice``+``array_join`` runs in interpreted HOF mode and measured
    ~5 s for 260k shingles at sf0.1; this runs inside whole-stage
    codegen at ~1 s. The window shuffle doubles as the parallelism
    fix-up when the source collapses to few input splits.

    Docs shorter than ``width`` tokens contribute their whole token
    sequence as one shingle (``concat_ws`` skips null leads); docs with
    NO tokens contribute nothing.
    """
    toked = df.repartition(id_col).select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, width)]
    last = leads[-1] if leads else F.col("tok")
    sh = toked.select(
        "id",
        F.concat_ws(SHINGLE_SEP, F.col("tok"), *leads).alias("sh"),
        last.alias("last"),
        "pos",
    )
    posting = (
        sh.filter(F.col("last").isNotNull() | (F.col("pos") == 0))
        .select("id", "sh")
        .distinct()
    )
    if with_size:
        posting = posting.withColumn("sz", F.count("*").over(Window.partitionBy("id")))
    return posting


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """E4 — quality-scoring columns: lengths, token stats, punctuation
    and stopword ratios, and a composite keep-score in [0,1].

    Mirrors the usual pre-training quality filters (length bounds,
    symbol density, stopword density) as vectorized expressions.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.lower(t), "[^a-z0-9 ]", ""))
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    punct_ratio = F.when(n_chars > 0, (n_chars - n_alpha) / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)) / n_tokens,
    ).otherwise(F.lit(0.0))
    score = (
        F.when((n_tokens >= 5) & (n_tokens <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.3, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return df.withColumns(
        {
            "n_chars_calc": n_chars.cast("int"),
            "n_tokens": n_tokens.cast("int"),
            "mean_token_len": mean_tok_len.cast("double"),
            "punct_ratio": punct_ratio.cast("double"),
            "stopword_ratio": stop_ratio.cast("double"),
            "quality_score": score.cast("double"),
        }
    )


def lang_count_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Marker counts per language as a DataFrame transform: tokenize
    ONCE per row, explode, and count every language's markers in one
    codegen hash-agg pass (the :func:`simhash60_table` shape).

    Per-word count columns would re-run the tokenizer regex once per
    marker (15×/row here) inside interpreted ``F.filter`` HOFs.
    Map-side partial aggregation means the shuffle carries one small
    count row per document. Documents with no tokens survive via
    ``explode_outer`` with all-zero counts.

    Returns (id_col, *keep_cols, c_<lang>... int) — one row per doc.
    """
    toked = df.select(id_col, *keep_cols, F.explode_outer(tokens(text_col)).alias("t"))
    aggs = [
        F.sum(
            F.when(F.col("t").isin(*LANG_MARKERS[lang]), 1).otherwise(0)
        ).cast("int").alias(f"c_{lang}")
        for lang in sorted(LANG_MARKERS)
    ]
    return toked.groupBy(id_col, *keep_cols).agg(*aggs)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 1,
) -> DataFrame:
    """E4 — the ``top_n`` highest-TF-IDF terms per document.

    One explode feeds both term frequency (per doc) and document
    frequency (per corpus); N is a broadcast scalar join (AQE turns the
    one-row cross join into a broadcast). score = tf · ln(N/df). The
    rank orders by the score ROUNDED to 9 dp so a 1-ulp libm difference
    in ``ln`` between engines can't flip the order, with the term
    string as the deterministic tie-break; the reported score rounds
    to 6 dp for the same reason. Rank ≤ n lets the window group-limit
    keep per-doc state at n rows. The input goes through
    :func:`~train_reports_etl_spark.util.repartition_if_coarse` first:
    the token explode and both partial aggregates fuse into the scan
    stage, so a coarse scan (few splits, or single-row-group parquet)
    would serialize the whole linear pass (measured on the x30 probe —
    same disease as the trigram LM).
    """
    df = repartition_if_coarse(df)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    tf = tok.groupBy(id_col, "t").agg(F.count("*").cast("long").alias("tf"))
    # df(t) = |{doc : tf(doc,t) > 0}| = COUNT(*) over the tf table —
    # one row per (doc, term) already exists, so deriving document
    # frequency from it replaces a second full pass over the exploded
    # tokens (whose count_distinct(id) re-expands every (t, id) pair)
    # with a count over the much smaller aggregate (x30: 9.0 → ~4 s)
    dfreq = tf.groupBy("t").agg(F.count("*").cast("long").alias("df"))
    n = df.agg(F.count("*").cast("double").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy(id_col).orderBy(F.round(score, 9).desc(), F.col("t"))
    return (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= top_n)
        .select(id_col, F.col("t").alias("term"), "tf", "df",
                F.round(score, 6).alias("score"), "rn")
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E4 — Gopher-style repetition signals per document:

    - ``top_token_ratio``: share of tokens that are the single most
      frequent token (boilerplate/spam indicator);
    - ``dup_2gram_frac``: fraction of token 2-grams that are repeats
      of an earlier 2-gram in the same document.

    One explode pass; 2-grams via the codegen ``lead()`` window (HOF
    array folds run interpreted — see SCALING.md). Ratios are single
    int/int divisions — bit-identical across engines. Documents with
    zero tokens are absent (no signal to score); a single-token doc
    has dup_2gram_frac 0."""
    tok = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "t"))
    cnt = tok.groupBy(id_col, "t").agg(F.count("*").alias("c"))
    top = cnt.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.max("c").cast("long").alias("top_cnt"),
    )
    nxt = F.lead("t").over(Window.partitionBy(id_col).orderBy("pos"))
    grams = (
        tok.withColumn("nxt", nxt)
        .filter(F.col("nxt").isNotNull())
        .select(F.col(id_col), F.concat_ws(" ", "t", "nxt").alias("g"))
    )
    g2 = grams.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_2grams"),
        F.count_distinct("g").cast("long").alias("n_distinct_2grams"),
    )
    dup = F.when(
        F.col("n_2grams") > 0,
        (F.col("n_2grams") - F.col("n_distinct_2grams")).cast("double")
        / F.col("n_2grams"),
    ).otherwise(F.lit(0.0))
    return (
        top.join(g2, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("top_cnt").cast("double") / F.col("n_tokens")).alias(
                "top_token_ratio"
            ),
            dup.alias("dup_2gram_frac"),
        )
    )


def argmax_lang(count_cols: dict[str, Column]) -> Column:
    """E4 — argmax over named score columns: first language in
    alphabetical order whose count equals the max wins ties; 'und' when
    nothing scored. Flat GREATEST+CASE — no nested-expression blowup
    (a left-fold of CASEs duplicates the running max at every level,
    going exponential in the number of languages).
    """
    langs = sorted(count_cols)
    mx = F.greatest(*[count_cols[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when(count_cols[lang] == mx, F.lit(lang)).otherwise(out)
    return F.when(mx > 0, out).otherwise(F.lit("und"))


def normalize_for_fingerprint(text: Column | str) -> Column:
    """Canonical form for content fingerprinting: lowercase, strip all
    non-alphanumerics. Whitespace/punct variations collapse."""
    return F.regexp_replace(F.lower(_c(text)), "[^a-z0-9]", "")


def fingerprint_md5(text: Column | str) -> Column:
    """E4 — content fingerprint: md5 of the normalized text. md5 is
    identical across Spark/DuckDB → oracle-checkable."""
    return F.md5(normalize_for_fingerprint(text))


# --- rolling-hash fingerprinting (Rabin-Karp / winnowing) -------------
#
# All arithmetic mod ROLL_MOD with ROLL_BASE keeps every intermediate
# < 2^51, inside int64 on both Spark (long) and DuckDB (BIGINT), and
# overflow-free under ANSI mode.

ROLL_BASE = 1_000_003
ROLL_MOD = (1 << 31) - 1


def token_value16(tok: Column) -> Column:
    """Portable 16-bit token value: first 4 md5 nibbles (md5 is
    bit-identical across Spark/DuckDB), i.e. ``sketches.hash60 >> 44``.
    Spark decodes via ``conv`` — one parse instead of 4 instr/substring
    terms, bit-equal (exact base-16 parse); oracles keep the instr
    chain (no DuckDB conv)."""
    return F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")


def _poly_fold(vals: Column) -> Column:
    """Σ-style polynomial fold acc = (acc·B + v + 1) mod M over an
    ordered array of token values — the Rabin-Karp rolling hash of the
    whole sequence. Position-sensitive, unlike the md5 set fingerprint."""
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * ROLL_BASE + v + F.lit(1)) % ROLL_MOD,
    )


def rolling_fingerprint(text: Column | str) -> Column:
    """E4 — whole-document rolling-hash fingerprint (Rabin-Karp over
    the token sequence). Token ORDER matters: reordered docs get
    different fingerprints, unlike :func:`fingerprint_md5`'s normalized
    bytes. Empty docs hash to 0."""
    return _poly_fold(F.transform(tokens(text), token_value16))


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """E4/E2 — winnowing (MOSS): per document, the distinct minima of
    each window of ``w`` consecutive ``k``-gram rolling hashes.

    Guarantees of the scheme: any shared run of ≥ w+k−1 tokens between
    two documents shares at least one fingerprint — the standard
    near-dup/plagiarism primitive. Output: (id, fp) exploded rows,
    ready for a fingerprint-bucket self-join.

    Docs shorter than ``k`` tokens contribute their whole-sequence
    hash; docs with no tokens contribute nothing.

    Formulation: posexplode tokens → ``lead`` over a per-doc window to
    expand the k-gram fold into a codegen expression (the mod applied
    at every step, exactly matching the oracle's ``list_reduce``), then
    a ROWS-frame ``min`` for the w-window minima. The array-HOF form
    (per-gram ``slice`` + interpreted fold) measured 33 s at sf0.1;
    this runs ~2 s. Null-skipping fold steps make the pos-0 row of a
    short doc fold exactly its whole token sequence.
    """
    toked = df.repartition(id_col).select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    toked = toked.select("id", "pos", token_value16(F.col("tok")).alias("v"))
    win = Window.partitionBy("id").orderBy("pos")
    vs = [F.col("v")] + [F.lead("v", i).over(win) for i in range(1, k)]
    g = (vs[0] + 1) % ROLL_MOD  # acc starts at 0; first value never null
    for i in range(1, k):
        g = F.when(vs[i].isNull(), g).otherwise((g * ROLL_BASE + vs[i] + 1) % ROLL_MOD)
    grams = (
        toked.select("id", "pos", g.alias("g"), vs[k - 1].alias("lastv"))
        .filter(F.col("lastv").isNotNull() | (F.col("pos") == 0))
        .select("id", "pos", "g")
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    per_id = Window.partitionBy("id")
    mins = grams.select(
        "id",
        "pos",
        F.min("g").over(frame).alias("fp"),
        F.count("*").over(frame).alias("in_frame"),
        F.count("*").over(per_id).alias("n_grams"),
    )
    keep = mins.filter(
        (F.col("in_frame") == w) | ((F.col("n_grams") < w) & (F.col("pos") == 0))
    )
    return keep.select("id", "fp").distinct()


def simhash60_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """60-bit SimHash as a DataFrame transform: explode tokens, hash
    each token ONCE with ``hash60`` (15 md5 nibbles — the
    engine-portable 60-bit hash), aggregate the 60 bit-weights as
    conditional sums in one codegen hash-agg, shuffling one row per
    doc. Zero-token docs are KEPT (explode_outer emits one NULL token;
    every weight sums to −1; fingerprint 0) — the SQL twins mirror
    this with a LEFT JOIN from documents.

    60 bits stay strictly below 2^63, so the value is non-negative on
    both engines and DuckDB's arithmetic ``>>`` equals Spark's
    ``shiftrightunsigned`` in the downstream 8-chunk pigeonhole join
    (``multimodal.hamming_pairs_64``) — a SQL-derivable stand-in for
    the numpy pHash that lets the candidate+verify pair stage be
    strong-oracle-checked. Returns (id_col, simhash60 bigint)."""
    from train_reports_etl_spark.extensions.sketches import hash60

    toked = df.select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("t"))
    valued = toked.select(id_col, hash60(F.col("t")).alias("v"))
    weights = valued.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("v").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"w{b}")
            for b in range(60)
        ]
    )
    fp = sum(
        (F.when(F.col(f"w{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(60)),
        F.lit(0),
    )
    return weights.select(F.col(id_col), fp.cast("long").alias("simhash60"))


def simhash16_of(sh60: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The 16-bit SimHash projected from a :func:`simhash60_table`
    frame: its top 16 bits. ``token_value16`` is the first 4 md5
    nibbles and ``hash60`` the first 15, so bit b of the 16-bit token
    value is bit b+44 of the 60-bit one; every bit-weight sum, tie
    and zero-token fingerprint then agrees, and ``simhash60 >> 44``
    IS the 16-bit fingerprint — no second explode/hash/aggregate.
    Returns (id_col, simhash int)."""
    return sh60.select(
        F.col(id_col), F.shiftright("simhash60", 44).cast("int").alias("simhash")
    )


def simhash_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """E2 — 16-bit md5-based SimHash per document: token bit b is bit b
    of ``token_value16``; fingerprint bit b is 1 iff the summed ±1
    weight is positive. Computed as the top 16 bits of
    :func:`simhash60_table` (see :func:`simhash16_of`).
    Returns (id_col, simhash int)."""
    return simhash16_of(simhash60_table(df, id_col, text_col), id_col)


# --------------------------------------------------------------- E4 PII

# Dialect-portable patterns: plain classes and bounded quantifiers only
# (Java regex and DuckDB's RE2 agree on these; no lookaround, no \d
# shorthand — DuckDB RE2 supports \d but [0-9] removes all doubt).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
PII_PHONE = "555-[0-9][0-9][0-9][0-9]"
PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
URL_PATTERN = "https?://[^ ]+"


def redact_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E4 — PII scrub: count then replace emails, IPv4 addresses and
    phone-like tokens with typed placeholders. Replacement order is
    fixed (email → ip → phone), and each count is taken on the text
    *after* the previous replacements, so counts equal the number of
    placeholders actually emitted — an IP-shaped run inside an email
    local part (``a1.2.3.4@x.com``) is consumed by ``<EMAIL>`` and is
    not double-counted as an IP. Pure codegen expressions — no UDF,
    no shuffle — which is exactly why the input goes through
    :func:`~train_reports_etl_spark.util.repartition_if_coarse`: four
    regex passes fused into a single-row-group scan serialize onto one
    core (round-9 row-group audit: 6.0x)."""
    from train_reports_etl_spark.util import repartition_if_coarse

    df = repartition_if_coarse(df)
    n = lambda c, p: F.size(F.regexp_extract_all(c, F.lit(p), F.lit(0))).cast("int")  # noqa: E731
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        n(t0, PII_EMAIL).alias("n_emails"),
        n(t1, PII_IPV4).alias("n_ips"),
        n(t2, PII_PHONE).alias("n_phones"),
        t3.alias("redacted"),
    )


def url_hosts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E4 — (doc, host) pairs for every URL in the text: extract-all →
    explode → host capture. Feeds domain-level corpus filtering
    (blocklists, per-site caps) — group the output by host."""
    urls = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
        ).alias("url"),
    )
    return urls.select(
        F.col(id_col),
        F.regexp_extract("url", "://([^/]+)", 1).alias("host"),
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """E4 — BM25 ranked retrieval for a literal query-term list.

    Scale shape: one explode feeds a doc-keyed conditional agg (tf per
    term + doc length, one shuffle); corpus stats (N, df_t, Σdl) are a
    ONE-ROW broadcast join; the ranking is TakeOrderedAndProject.

    Determinism for the oracle: avgdl comes from an exact integer
    token-count sum (never a float mean); per-term scores are separate
    columns added in fixed order; the float score only ever ORDERS
    (rounded to 9 dp, doc id tie-break) and is dropped from the
    output — integer tfs and lengths are the contract."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    per_doc = tok.groupBy(id_col).agg(
        F.count("*").cast("long").alias("dl"),
        *[
            F.sum((F.col("t") == w).cast("long")).cast("long").alias(f"tf_{i}")
            for i, w in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    parts = []
    for i in range(len(terms)):
        idf = F.log((F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5) + 1.0)
        tf = F.col(f"tf_{i}").cast("double")
        parts.append(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (F.col("dl") / avgdl))))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    ranked = (
        scored.withColumn("score", F.round(total, 9))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_n)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.col(id_col),
        F.col("dl").alias("n_tokens"),
        *[F.col(f"tf_{i}").alias(f"tf_{t}") for i, t in enumerate(terms)],
    )


def ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """E4 — corpus-level n-gram frequency: the ``top_n`` most frequent
    word ``n``-grams with (count, distinct-doc) stats and a total
    tie-break on the gram text — the table a contamination scan or a
    boilerplate report reads first.

    Unlike :func:`shingle_posting` this keeps MULTIPLICITY (counts,
    not a distinct posting set) and drops partial tail grams. Codegen
    shape: posexplode + ``lead()`` per-doc window, never an
    interpreted slice/HOF per gram; the count agg is map-side partial
    and the global top-N is TakeOrderedAndProject (top_n rows per
    partition reach the driver, never the full gram table)."""
    toked = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = toked.select(
        "id", F.concat_ws(" ", F.col("tok"), *leads).alias("ngram"), leads[-1].alias("last")
    ).filter(F.col("last").isNotNull())
    return (
        grams.groupBy("ngram")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("id").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(top_n)
    )


def canonical_url(url: Column | str) -> Column:
    """E1 — URL canonicalization: lowercase scheme+host, drop default
    ports (80/443), strip the fragment, remove ``utm_*`` tracking
    params, and trim the trailing slash. The same page crawled as
    ``HTTPS://Site.ORG:443/p/?utm_source=x#top`` and
    ``https://site.org/p`` collapses to one key — the standard
    pre-dedup step for crawl corpora (raw-URL dedup misses most
    re-crawls).

    Pure regexp surgery (extract scheme/host/port/path/query, rebuild)
    — no lookaround, so Java regex and RE2 agree and the whole thing
    is byte-comparable against a SQL oracle.
    """
    u = F.col(url) if isinstance(url, str) else url
    # (?i): crawlers see 'HTTPS://' too — both Java regex and RE2
    # support the inline flag, so the oracle stays portable.
    scheme = F.lower(F.regexp_extract(u, r"^(?i)(https?)://", 1))
    host = F.lower(F.regexp_extract(u, r"://([^/:?#]+)", 1))
    port = F.regexp_extract(u, r"://[^/:?#]+:([0-9]+)", 1)
    path = F.regexp_replace(F.regexp_extract(u, r"://[^/?#]+([^?#]*)", 1), r"/$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    q2 = F.regexp_replace(F.regexp_replace(q, r"(^|&)utm_[^&]*", ""), r"^&", "")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(~port.isin("", "80", "443"), F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit("")),
    )


def compression_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    repetitious_below_ppm: int = 250_000,
) -> DataFrame:
    """E4 — deflate compression-ratio quality signal: highly
    compressible text is repetitious (boilerplate, keyword stuffing,
    generated spam) — the cheap single-doc complement of the Gopher
    repetition rules. Standard corpus-hygiene filter.

    zlib lives Python-side, so this is the canonical Arrow-batched
    ``pandas_udf`` hot path: one vectorized batch in, one long column
    out — never a row-at-a-time Python UDF. Level is pinned (6) so the
    byte count is deterministic for a given zlib build; output is
    integer ppm (compressed·10⁶ div raw), no float surface. DuckDB has
    no deflate, so the driver records the rows-only check; the pytest
    twin strong-checks the UDF against direct ``zlib.compress`` on the
    same rows.
    """
    @F.pandas_udf("long")
    def deflate_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t is not None else None
        )

    raw_len = F.octet_length(F.encode(F.col(text_col), "utf-8")).cast("long")
    out = df.select(
        F.col(id_col),
        raw_len.alias("n_bytes"),
        deflate_len(F.col(text_col)).alias("n_deflate"),
    ).filter(F.col("n_bytes") > 0)
    return out.select(
        id_col,
        "n_bytes",
        "n_deflate",
        F.expr("n_deflate * 1000000 div n_bytes").cast("long").alias("ratio_ppm"),
        F.when(
            F.expr("n_deflate * 1000000 div n_bytes") < repetitious_below_ppm,
            F.lit("repetitious"),
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E4 — per-document character entropy (bits/char), the classic
    gibberish/boilerplate quality signal: natural text sits ~4 bits,
    repeated padding near 0, random base64 near 6.

    Determinism contract: per-char counts are exact integers; the
    entropy sum folds over the counts in CHARACTER ORDER (array_sort
    on the (char, count) structs → sequential ``aggregate``), so the
    float accumulation order is data-defined, never partition-defined
    — the same fold the DuckDB oracle runs. Scale shape: explode →
    map-side partial count per (doc, char) → one doc-keyed agg; no
    row ever carries more than one char, no state bigger than the
    per-doc alphabet. Input re-balanced via
    :func:`~train_reports_etl_spark.util.repartition_if_coarse` — the
    per-CHARACTER explode fuses into the scan stage and is the most
    scan-parallelism-sensitive op in the file.
    """
    df = repartition_if_coarse(df)
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit("[\\s\\S]"), F.lit(0))
        ).alias("ch"),
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("ch", "c"))).alias("cc"),
        F.sum("c").alias("n"),
    )
    n = F.col("n").cast("double")
    ent = F.aggregate(
        F.col("cc"),
        F.lit(0.0),
        lambda acc, s: acc
        + (s["c"].cast("double") / n) * F.log2(n / s["c"].cast("double")),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n").cast("long").alias("n_chars"),
        F.round(ent, 6).alias("entropy_bits"),
    )


def hashed_bow_weights(n_buckets: int = 64, seed: int = 13) -> tuple[list[int], int]:
    """Literal integer-ppm weight vector for the hashed bag-of-words
    classifier — the 'trained artifact' (a fastText/logreg weight
    table is fixed at scoring time; a seeded RNG stands in here).
    Returns (weights_ppm, bias_ppm)."""
    import random as _rnd

    rng = _rnd.Random(seed)
    return [rng.randint(-1_000_000, 1_000_000) for _ in range(n_buckets)], -50_000


def linear_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: int = 13,
) -> DataFrame:
    """E4 — hashed bag-of-words linear classifier scoring (the
    fastText / CCNet-style quality-model inference pass): each token
    hashes to one of ``n_buckets`` feature buckets (md5 nibbles — the
    portable hashing-trick), the score is bias + Σ weight[bucket(t)]
    over all token OCCURRENCES, and the label is sign(score).

    Weights are integer ppm and the sum is pure BIGINT arithmetic —
    no float ever crosses an aggregation, so the score is exact and
    order-free. The whole pass is NARROW: transform + aggregate over
    the token array per row, weights inlined as a literal array
    (broadcast by value) — zero shuffle, zero UDF; at 100 TB this is
    a map-only stage fused into whatever scan feeds it.

    Returns ``(id, n_tokens, score_ppm, keep)``.

    "Fused into whatever scan feeds it" cuts both ways: on a coarse
    (single-row-group) scan the per-token md5 fold serializes onto one
    core, so the input passes through ``repartition_if_coarse``
    (round-9 row-group audit: 4.2x on both classifier queries).
    """
    from train_reports_etl_spark.util import repartition_if_coarse

    df = repartition_if_coarse(df)
    weights, bias = hashed_bow_weights(n_buckets, seed)
    warr = "array(" + ", ".join(f"{w}L" for w in weights) + ")"
    h = "md5(t)"
    nib = lambda i: f"(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1)"  # noqa: E731
    bucket = f"(({nib(1)} * 16 + {nib(2)}) % {n_buckets})"
    score = (
        f"aggregate(transform({{toks}}, t -> element_at({warr}, {bucket} + 1)), "
        f"cast({bias} as bigint), (acc, v) -> acc + v)"
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    return toked.select(
        F.col(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.expr(score.format(toks="toks")).alias("score_ppm"),
    ).withColumn("keep", F.col("score_ppm") > 0)


#: A small trained-artifact stand-in: BPE merge table in rank order
#: (common English piece merges). A production table has 30-50k rows
#: and ships exactly the same way — a broadcast literal/list.
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("a", "l"), ("i", "t"),
    ("o", "u"), ("l", "e"), ("i", "s"), ("in", "g"), ("t", "o"),
    ("c", "o"), ("d", "e"), ("m", "e"), ("p", "a"), ("er", "s"),
    ("an", "d"), ("the", "r"), ("s", "e"), ("u", "r"), ("l", "y"),
    ("0", "0"), ("1", "2"), ("at", "ion"), ("i", "on"), ("it", "y"),
)


def bpe_round0_digrams(
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES, k: int = 10
) -> list[str]:
    """The first ``k`` single-character merge pairs of the table, in
    rank order, as 2-char literals. ONE shared source for the
    SQL-derivable piece function of ``e4_bpe_downstream_join`` (Spark
    and DuckDB twins both build their regex from this list): all
    alternatives are distinct 2-char literals, so at any position at
    most one can match — leftmost-first (Java) and RE2 scanning agree
    exactly, and neither rescans replacement text.

    The digrams embed UNESCAPED into both engines' regex alternations
    and into a single-quoted SQL literal, so the cross-engine
    exactness argument (and the SQL string itself) only holds for
    plain literal characters — enforced here rather than silently
    producing a pattern where e.g. ``.`` matches anything."""
    out = [a + b for a, b in merges if len(a) == 1 and len(b) == 1][:k]
    bad = [d for d in out if not d.isalnum()]
    if bad:
        raise ValueError(
            f"bpe_round0_digrams requires alphanumeric merge chars (regex "
            f"metacharacters / quotes would corrupt the shared pattern), got {bad!r}"
        )
    return out


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE apply (the GPT-2 algorithm): start from characters,
    repeatedly merge the LOWEST-rank adjacent pair until none of the
    remaining pairs is in the merge table."""
    pieces = list(word)
    while len(pieces) > 1:
        pairs = [(ranks.get(p, 1 << 30), i) for i, p in enumerate(zip(pieces, pieces[1:]))]
        best_rank, i = min(pairs)
        if best_rank >= 1 << 30:
            break
        pieces[i : i + 2] = [pieces[i] + pieces[i + 1]]
    return pieces


def bpe_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
) -> DataFrame:
    """E4 — true BPE token accounting (not the regex approximation):
    per-document word and BPE-piece counts under a fixed merge table.

    The scale design is VOCABULARY MEMOIZATION: the greedy merge loop
    runs once per DISTINCT word (mapInPandas over the deduped
    vocabulary — at 100 TB that's ~10⁷ rows, not 10¹² token
    occurrences), and per-document counts come from joining the
    (word → n_pieces) table back to per-doc word frequencies — pure
    integer aggregation. This is exactly how production tokenizer
    accounting amortizes: encode the vocab, weight by term frequency.

    Returns ``(id, n_words, n_bpe_tokens)``. The greedy merge loop has
    no SQL oracle (iterative, data-dependent depth; pytest-pinned
    against an independent reference implementation) — but everything
    DOWNSTREAM of the per-word piece counts (tokenize → per-doc term
    frequencies → vocabulary join → weighted sums) is shared with
    :func:`token_counts_from_piece_table`, which the gate
    strong-oracle-checks end-to-end on a SQL-derivable piece function
    (``e4_bpe_downstream_join``) — the same decomposition that gave
    the non-SQL pHash its strong-checked pair pipeline.
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    ranks = {p: i for i, p in enumerate(merges)}
    occ = word_occurrences(df, id_col=id_col, text_col=text_col)
    vocab = occ.select("tok").distinct()

    out_schema = StructType(
        [
            StructField("tok", StringType(), False),
            StructField("n_pieces", IntegerType(), False),
        ]
    )

    def encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "tok": pdf["tok"],
                    "n_pieces": pd.Series(
                        [len(bpe_encode_word(t, ranks)) for t in pdf["tok"]],
                        dtype="int32",
                    ),
                }
            )

    encoded = vocab.mapInPandas(encode, out_schema)
    return _piece_weighted_counts(occ, encoded, id_col)


def word_occurrences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document term frequencies ``(id, tok, n_occ)`` over the
    standard token regex — the shared head of every vocabulary-join
    accounting path (true-BPE and SQL-derivable piece tables alike)."""
    return (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )


def _piece_weighted_counts(occ: DataFrame, encoded: DataFrame, id_col: str) -> DataFrame:
    """The downstream of tokenizer accounting: join per-doc term
    frequencies to a (tok → n_pieces) table and weight. The vocabulary
    side is usually small enough to broadcast (~10⁷ rows at 100 TB) —
    left to AQE's runtime size decision rather than a hint, because a
    web-scale vocab (numbers, typos) can exceed safe broadcast size
    and a forced hint would OOM the driver exactly there."""
    return (
        occ.join(encoded, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_pieces")).cast("long").alias("n_bpe_tokens"),
        )
    )


def token_counts_from_piece_table(
    df: DataFrame,
    encoded: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    occ: DataFrame | None = None,
) -> DataFrame:
    """Per-document token accounting under ANY (tok → n_pieces) table
    — e.g. a store-materialized BPE encode, or a SQL-derivable piece
    function. Runs the exact downstream code path of
    :func:`bpe_token_counts` (same tokenize/occ/join/agg), which is
    what lets the gate strong-check that path even though the greedy
    merge loop itself has no oracle.

    ``occ``: pass the :func:`word_occurrences` frame when the caller
    already built it (e.g. to derive the vocabulary the piece table
    encodes) — the two identical aggregate subtrees then share one
    tokenize scan via Spark's exchange reuse instead of regex-exploding
    the corpus twice."""
    if occ is None:
        occ = word_occurrences(df, id_col=id_col, text_col=text_col)
    return _piece_weighted_counts(occ, encoded, id_col)


def char_trigram_lm_millibits(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_mod: int = 10,
    train_keep: int = 8,
) -> DataFrame:
    """E4 — character-trigram language-model perplexity scoring, the
    CCNet-style quality filter (Wenzek et al., LREC'20 train an LM on
    trusted text and drop high-perplexity documents; here the "trusted"
    split is ``id % train_mod < train_keep`` so the op is
    self-contained and deterministic).

    Model: add-one-smoothed trigram unigram-of-trigrams —
    ``p(t) = (c(t)+1) / (total+V+1)`` with c from the train split and
    V the seen-trigram vocabulary (+1 reserves mass for OOV). Score:
    mean negative log2 probability per trigram, reported as an integer
    ``millibits_per_trigram`` (×1000, half-up) so the value-hash
    oracle compares integers, not float tails.

    Plan shape (100 TB): trigram explode is a JVM-side
    ``transform(sequence(...))`` — no Python in the hot path. The
    fitted model is bounded by charset³ (tiny vs corpus), so scoring
    is a BROADCAST left join followed by one map-side-combinable
    groupBy(doc) — the corpus never shuffles by trigram twice; only
    the train-split count aggregate shuffles trigram keys once,
    map-combined. ``−log2 p = −log2(c+1) + log2(total+V+1)`` splits
    the score so the denominator is a 1-ROW broadcast scalar folded in
    AFTER the per-doc aggregate (one BNLJ against 5k-docs-worth of
    rows) — zero driver actions, one DAG, and the model never rides a
    collect (at web scale the trigram vocabulary is charset³-ish but
    unbounded for unicode text; broadcast, don't collect). When the
    input's file partitioning is coarser than the cluster (a small dim
    table read as 2-3 splits), the explode is repartitioned up to
    default parallelism first — a shuffle of the RAW text, gated by
    :func:`~train_reports_etl_spark.util.repartition_if_coarse`, which
    checks EFFECTIVE scan parallelism (parquet row groups, not planned
    byte-range splits — a single-row-group file plans as 32 splits but
    runs as 1 task, measured 55 s → 4 s on a 150k-doc corpus) and never
    touches a corpus that already has real splits (measured
    6.1 s → ~1.5 s at sf0.1 on local[32], where the parquet arrives as
    3 splits).
    """
    docs = repartition_if_coarse(docs)
    tris = docs.filter(F.length(text_col) >= 3).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - 2),"
                f" i -> substring({text_col}, i, 3))"
            )
        ).alias("tri"),
    )
    counts = (
        tris.filter((F.col("id") % train_mod) < train_keep)
        .groupBy("tri")
        .agg(F.count("*").cast("long").alias("c"))
    )
    model_stats = counts.agg(
        F.sum("c").cast("long").alias("lm_total"),
        F.count("*").cast("long").alias("lm_vocab"),
    )
    per_doc = (
        tris.join(F.broadcast(counts), "tri", "left")
        .select(
            "id",
            (-F.log2((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double"))).alias(
                "nl"
            ),
        )
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum("nl").alias("s1"),
        )
    )
    log_denom = F.log2(
        (F.col("lm_total") + F.col("lm_vocab") + F.lit(1)).cast("double")
    )
    return per_doc.crossJoin(F.broadcast(model_stats)).select(
        F.col("id").alias(id_col),
        "n_trigrams",
        F.round(
            F.lit(1000.0)
            * (F.col("s1") + F.col("n_trigrams") * log_denom)
            / F.col("n_trigrams")
        )
        .cast("long")
        .alias("millibits_per_trigram"),
    )


def mattr_lexical_diversity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """E4 — MATTR, the moving-average type-token ratio (Covington &
    McFall, JQL 2010): mean over all length-``window`` token windows of
    (distinct tokens in window) / window. Plain TTR shrinks as
    documents grow (types saturate, tokens don't), so a corpus-wide
    TTR quality filter is length-biased; the fixed window removes the
    bias, making MATTR the lexical-diversity score you can threshold
    uniformly across a mixed-length corpus. Docs shorter than the
    window fall back to one whole-doc window (TTR itself — the
    standard short-text fallback); empty-token docs are dropped.

    Integer-exact output for the strong oracle: ``n_tokens``,
    ``n_windows`` and ``sum_window_types`` (Σ per-window distinct
    counts) are longs, and ``mattr_milli`` is ONE
    ROUND(1000·Σ/(denominator tokens)) division per row — never a
    float sum, so the value-hash comparison cannot drift.

    Plan shape (100 TB): tokens → ``transform(sequence(...))`` over
    ``array_distinct(slice(...))`` → integer ``aggregate`` fold — all
    JVM-side whole-stage codegen, zero Python, zero shuffles
    (embarrassingly parallel per document; cost O(n·window) per doc,
    bounded by the window constant). The sequence bound is clamped
    with ``greatest(…, 1)`` because WHEN/OTHERWISE does not
    short-circuit evaluation (see :func:`shingle_set`) — short docs
    must not feed ``sequence`` a descending range. Zero-shuffle also
    means scan-fused: the input passes through
    ``repartition_if_coarse`` (round-9 row-group audit: 4.4x on a
    single-row-group corpus).
    """
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    n = F.size(F.col("toks"))
    per_win = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {window} + 1, 1)),"
        f" i -> size(array_distinct(slice(toks, i, {window}))))"
    )
    stats = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .filter(n >= 1)
        .select(
            F.col(id_col),
            n.cast("long").alias("n_tokens"),
            F.when(n >= window, per_win)
            .otherwise(F.array(F.size(F.array_distinct(F.col("toks")))))
            .alias("wins"),
        )
        .select(
            id_col,
            "n_tokens",
            F.size("wins").cast("long").alias("n_windows"),
            F.aggregate(
                "wins", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
            ).alias("sum_window_types"),
        )
    )
    denom = F.when(
        F.col("n_tokens") >= window, F.lit(window) * F.col("n_windows")
    ).otherwise(F.col("n_tokens"))
    return stats.select(
        id_col,
        "n_tokens",
        "n_windows",
        "sum_window_types",
        F.round(F.lit(1000.0) * F.col("sum_window_types") / denom)
        .cast("long")
        .alias("mattr_milli"),
    )


# ---------------------------------------------------------------- E78

def frequent_itemsets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_support: int = 10,
    max_size: int = 3,
) -> DataFrame:
    """E78 — Apriori frequent itemsets over per-document distinct
    token sets (Agrawal & Srikant VLDB'94): which token combinations
    co-occur in ≥ ``min_support`` documents. The pattern-mining
    primitive behind topic lexicons, template detection ("these 5
    tokens always appear together" = boilerplate), and co-occurrence
    features — the operator family (market-basket) the inventory
    lacked.

    Level-wise with the Apriori downward-closure prune, expressed as
    joins (the same shape MLlib's distributed FP-growth reduces to for
    small k):

    - L1 = tokens in ≥ min_support docs (one map-combinable count);
    - candidate k-sets come from joining the (doc, item) posting
      RESTRICTED to L_{k-1} members — a doc contributes C(m', k)
      combinations only over its m' frequent-at-level tokens, the
      prune that makes Apriori viable: infrequent tokens never enter
      a candidate, so the per-doc explosion is bounded by the
      frequent-token density, not doc length;
    - L_k = candidates in ≥ min_support docs.

    Itemsets are emitted one row per (size, items) with items joined
    by ``\\x1f`` in lexicographic order — a canonical total-order key,
    so counts are exact integers and the oracle is strong.

    Scale shape (100 TB): every stage is posting-join + groupBy — all
    shuffles keyed on bounded tokens/itemset strings, all counts
    map-side combinable. The k=2 self-join per doc is the quadratic
    risk; its budget is (frequent tokens per doc)² — tunable by
    min_support, same dial as production. ``max_size`` caps the
    level loop (driver holds only the loop counter, never data).
    """
    sep = SHINGLE_SEP
    # Checkpointed (r10): the returned frame is a lazy union of every
    # level, whose plan contains the posting subtree in ~5 branches
    # (L1, the fp build, and both sides of each level's self-join) —
    # unchecked, one action re-ran tokenize+explode+distinct that many
    # times. Two eager localCheckpoints (posting, then the
    # frequent-restricted fp, cheap from the first) make every branch
    # read materialized rows; lineage also stays flat across levels.
    posting = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).distinct().localCheckpoint(eager=True)
    l1 = (
        posting.groupBy("tok")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    out = l1.select(
        F.lit(1).alias("size"), F.col("tok").alias("items"), "support"
    )
    # posting restricted to frequent unigrams — every later level
    # draws from this (downward closure: a frequent k-set's members
    # are frequent 1-sets).
    fp = (
        posting.join(l1.select("tok"), "tok")
        .select("id", "tok")
        .localCheckpoint(eager=True)
    )
    prev = fp.select("id", F.col("tok").alias("items"))
    for size in range(2, max_size + 1):
        ext = (
            prev.join(fp.withColumnRenamed("tok", "nxt"), "id")
            .filter(
                F.col("nxt") > F.substring_index(F.col("items"), sep, -1)
            )
            .select("id", F.concat_ws(sep, "items", "nxt").alias("items"))
        )
        lk = (
            ext.groupBy("items")
            .agg(F.count("*").cast("long").alias("support"))
            .filter(F.col("support") >= min_support)
        )
        out = out.unionByName(
            lk.select(F.lit(size).alias("size"), "items", "support")
        )
        prev = ext.join(lk.select("items"), "items").select("id", "items")
    return out


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """E111 — pointwise mutual information of adjacent-token bigrams
    (Church & Hanks 1990), the classic collocation/multi-word-unit
    detector: PMI = log2( p(x,y) / (p(x)p(y)) ) with the joint from
    the bigram stream (N_b pairs) and the marginals from the token
    stream (N_u tokens), i.e. log2( c_xy·N_u² / (N_b·c_x·c_y) ).

    EVERY bigram with c_xy ≥ ``min_count`` is emitted with its exact
    integer counts plus ``pmi_millibits`` = round(1000·log2(exact
    rational)) — the trigram-LM portability pattern (floats only as
    log2 of identical integers, rounded to an integer). No top-k
    ordering by the float leaves the query, so cross-engine ulp
    differences cannot reorder a boundary.

    Scale: one token-count aggregate (vocab-sized) + one bigram-count
    aggregate (bigram-vocab-sized) + two joins of the bigram table
    against the unigram table — all key-bounded by vocabulary, never
    by corpus rows; the explodes fuse into the scan
    (repartition_if_coarse-guarded)."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    toks = docs.select(tokens(text_col).alias("ts")).persist()
    try:
        uni = (
            toks.select(F.explode("ts").alias("t"))
            .groupBy("t")
            .agg(F.count("*").cast("long").alias("c"))
        )
        # r10: both stream totals in ONE aggregate job (was an explode
        # count for N_u plus a separate sum for N_b); sum(size(ts)) ==
        # count(explode(ts)) — NULL/empty arrays contribute 0 to both.
        totals = toks.agg(
            F.sum(F.expr("greatest(size(ts), 0)")).cast("long").alias("nu"),
            F.sum(F.expr("greatest(size(ts) - 1, 0)")).cast("long").alias("nb"),
        ).collect()[0]
        n_uni = int(totals.nu or 0)
        # Filter short docs first: Spark's sequence(1, 0) DESCENDS
        # ([1, 0]) rather than returning empty, which would fabricate
        # two bogus bigrams per sub-2-token document
        big = (
            toks.filter(F.expr("size(ts) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ts) - 1),"
                        " i -> struct(ts[i-1] as x, ts[i] as y))"
                    )
                ).alias("b")
            )
            .select("b.x", "b.y")
            .groupBy("x", "y")
            .agg(F.count("*").cast("long").alias("c_xy"))
            .filter(F.col("c_xy") >= min_count)
        )
        n_big = int(totals.nb or 0)
        out = (
            big.join(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x")), "x")
            .join(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y")), "y")
            .select(
                F.concat_ws(" ", "x", "y").alias("bigram"),
                "c_xy",
                "c_x",
                "c_y",
                F.round(
                    F.lit(1000.0)
                    * (
                        F.log2(F.col("c_xy").cast("double"))
                        + 2.0 * F.log2(F.lit(float(n_uni)))
                        - F.log2(F.lit(float(n_big)))
                        - F.log2(F.col("c_x").cast("double"))
                        - F.log2(F.col("c_y").cast("double"))
                    )
                )
                .cast("long")
                .alias("pmi_millibits"),
            )
        )
        rows = out.collect()
    finally:
        toks.unpersist()
    return local_frame(
        docs.sparkSession, rows, "bigram string, c_xy long, c_x long, c_y long, pmi_millibits long"
    )


def head_coverage(
    docs: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """E112 — head-of-vocabulary mass coverage: the fraction of total
    token mass carried by the top-k types under the deterministic
    total order (count desc, token asc) — the tokenizer/vocab-truncation
    planning curve (how much of the stream does a k-type vocabulary
    explain?). Zipf's law says each decade of k buys roughly equal
    mass; the measured curve is the honest version.

    Integer-exact: counts, cumulative sums, and ppm floor-divisions;
    the rank is over integer keys so no float enters the order.

    Scale: one token-count aggregate (vocab-sized) then ONE
    :func:`~train_reports_etl_spark.operators.ranking.distributed_rank`
    pass over the vocab table (range-bucketed — never a
    single-partition global window) + one conditional aggregate for
    all k cut-offs together."""
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    # Vocab table persisted (r10): the rank pass's quantile sample and
    # bucket-aggregate branch otherwise re-run the corpus-sized
    # explode+count — the E99/E128 rescan lesson.
    cnt = (
        docs.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("neg_c", -F.col("c"))
        .persist()
    )
    ranked = distributed_rank(cnt, "neg_c", ["neg_c", "t"]).persist()
    try:
        agg = ranked.agg(
            F.count("*").cast("long").alias("v"),
            F.sum("c").cast("long").alias("total"),
            *[
                F.sum(F.when(F.col("rnk") <= k, F.col("c")).otherwise(0))
                .cast("long")
                .alias(f"m{k}")
                for k in ks
            ],
        ).collect()[0]
    finally:
        ranked.unpersist()
        cnt.unpersist()
    rows = [
        (
            int(k),
            int(min(k, agg["v"])),
            int(agg["total"]),
            int(agg[f"m{k}"]),
            (1_000_000 * int(agg[f"m{k}"])) // int(agg["total"]),
        )
        for k in ks
    ]
    return local_frame(
        docs.sparkSession,
        rows,
        "k long, n_types long, total_tokens long, head_tokens long, "
        "coverage_ppm long",
    )


def source_vocab_jaccard(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """E116 — pairwise vocabulary Jaccard between sources: how much do
    two slices of the corpus share a vocabulary? The corpus-diff /
    domain-shift screen (a source whose vocabulary barely intersects
    the rest is either another language, boilerplate, or garbage —
    each worth knowing before it trains).

    Integer-exact: per-source distinct-type counts, pairwise
    intersections from one token-keyed self-join, union by
    |A|+|B|−|A∩B|, Jaccard in ppm by one floor-div.

    Scale: the data-sized stage is ONE distinct (source, token)
    aggregate; the self-join is keyed by token over the vocab-bounded
    table and emits only source pairs (≤ S² rows after its
    aggregate). Never an all-pairs join over rows."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    vocab = (
        docs.select(F.col(group_col).alias("s"), F.explode(tokens(text_col)).alias("t"))
        .distinct()
        .persist()
    )
    try:
        sizes = vocab.groupBy("s").agg(F.count("*").cast("long").alias("v"))
        inter = (
            vocab.alias("x")
            .join(vocab.alias("y"), "t")
            .filter(F.col("x.s") < F.col("y.s"))
            .groupBy(F.col("x.s").alias("sa"), F.col("y.s").alias("sb"))
            .agg(F.count("*").cast("long").alias("inter"))
        )
        out = (
            inter.join(
                F.broadcast(sizes.select(F.col("s").alias("sa"), F.col("v").alias("v_a"))),
                "sa",
            )
            .join(
                F.broadcast(sizes.select(F.col("s").alias("sb"), F.col("v").alias("v_b"))),
                "sb",
            )
            .select(
                F.col("sa").alias("source_a"),
                F.col("sb").alias("source_b"),
                "v_a",
                "v_b",
                "inter",
                F.expr(
                    "cast((1000000 * inter) div (v_a + v_b - inter) as bigint)"
                ).alias("jaccard_ppm"),
            )
        )
        rows = out.collect()
    finally:
        vocab.unpersist()
    return local_frame(
        docs.sparkSession,
        rows,
        "source_a string, source_b string, v_a long, v_b long, inter long, "
        "jaccard_ppm long",
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str = "text",
    head_k: int = 4096,
) -> DataFrame:
    """E121 — Zipf rank–frequency slope of the corpus vocabulary
    (Zipf 1949): the OLS slope of log2(count) against log2(rank) over
    the head of the rank table — the one-number vocabulary-health
    screen (natural text sits near −1; boilerplate-heavy or templated
    corpora flatten toward 0, OCR noise steepens the tail). The fit is
    restricted to ranks ≤ ``head_k`` because the empirical tail bends
    away from the power law (Mandelbrot 1953) and because the head cap
    is what keeps every OLS sum inside int64 (see below).

    Portability: per-term x = round(1000·log2(rank)) and
    y = round(1000·log2(count)) are integers (millibits — the
    transcendental rule: log2 only of identical exact integers, rounded
    to an integer before any arithmetic); all five OLS sums are then
    exact bigint (n ≤ head_k = 4096 bounds n·Σxy < 6·10¹⁵). The final
    slope/intercept divisions run DECIMAL(38,0) on the single aggregate
    row. Division is only ever applied to non-negative numerators
    (``greatest(·, 0)``, the repo's div≡// domain), so the signed raw
    numerators are ALSO emitted exactly — the sign case is pinned
    without dividing a negative.

    Output (1 row): n_fit, sum_x_mb, sum_y_mb, sum_xy, sum_xx,
    neg_slope_num, slope_den, neg_slope_ppm (= −slope·10⁶, ≥ 0 for any
    Zipf-like corpus), intercept_num, intercept_millibits.

    Scale: one vocab-sized count aggregate, ONE
    :func:`~train_reports_etl_spark.operators.ranking.distributed_rank`
    pass (range-bucketed, never a single-partition global window), a
    rank ≤ head_k filter, one 1-row aggregate."""
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    # Vocab table persisted (r10): the rank pass's quantile sample and
    # bucket-aggregate branch otherwise re-run the corpus-sized
    # explode+count; the 1-row fit is materialized eagerly below so the
    # cache releases before return (the E99/E128 rescan lesson).
    cnt = (
        docs.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("neg_c", -F.col("c"))
        .persist()
    )
    ranked = distributed_rank(cnt, "neg_c", ["neg_c", "t"]).filter(
        F.col("rnk") <= head_k
    )
    term = ranked.select(
        F.round(F.lit(1000.0) * F.log2(F.col("rnk").cast("double")))
        .cast("long")
        .alias("x"),
        F.round(F.lit(1000.0) * F.log2(F.col("c").cast("double")))
        .cast("long")
        .alias("y"),
    )
    agg = term.agg(
        F.count("*").cast("long").alias("n_fit"),
        F.sum("x").cast("long").alias("sum_x_mb"),
        F.sum("y").cast("long").alias("sum_y_mb"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
    )
    dec = "cast({} as decimal(38,0))"
    neg_num = (
        f"({dec.format('sum_x_mb')} * {dec.format('sum_y_mb')}"
        f" - {dec.format('n_fit')} * {dec.format('sum_xy')})"
    )
    den = (
        f"({dec.format('n_fit')} * {dec.format('sum_xx')}"
        f" - {dec.format('sum_x_mb')} * {dec.format('sum_x_mb')})"
    )
    icpt_num = (
        f"({dec.format('sum_y_mb')} * {den} + {neg_num} * {dec.format('sum_x_mb')})"
    )
    try:
        rows = agg.select(
            "n_fit",
            "sum_x_mb",
            "sum_y_mb",
            "sum_xy",
            "sum_xx",
            F.expr(f"cast({neg_num} as bigint)").alias("neg_slope_num"),
            F.expr(f"cast({den} as bigint)").alias("slope_den"),
            F.expr(
                f"cast((cast(1000000 as decimal(38,0))"
                f" * greatest({neg_num}, cast(0 as decimal(38,0))))"
                f" div nullif({den}, cast(0 as decimal(38,0))) as bigint)"
            ).alias("neg_slope_ppm"),
            F.expr(
                f"cast(greatest({icpt_num}, cast(0 as decimal(38,0)))"
                f" div nullif({dec.format('n_fit')} * {den},"
                f" cast(0 as decimal(38,0))) as bigint)"
            ).alias("intercept_millibits"),
        ).collect()
    finally:
        cnt.unpersist()
    return local_frame(
        docs.sparkSession,
        rows,
        "n_fit long, sum_x_mb long, sum_y_mb long, sum_xy long, sum_xx long, "
        "neg_slope_num long, slope_den long, neg_slope_ppm long, "
        "intercept_millibits long",
    )


def token_burstiness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """E122 — token burstiness (Church & Gale 1995, "Poisson
    mixtures"): tf/df per type — the mean number of occurrences in the
    documents that contain the token at all. Function words sit near
    uniform (burstiness ≈ total/docs ratio of a Poisson scatter);
    content words and boilerplate "burst" (a doc that mentions a term
    once tends to repeat it), so the ratio separates topical vocabulary
    from glue — the cheap keyword/stopword discriminator that needs no
    labels.

    EVERY token with tf ≥ ``min_count`` is emitted with exact integer
    (tf, df) and burst_ppm = ⌊10⁶·tf/df⌋ — non-negative floor division,
    wrapped DECIMAL(38,0) so no token-frequency ceiling exists.

    Scale: ONE (token)-keyed aggregate over the exploded stream
    computing tf = count and df = approx-free exact distinct docs via
    count(distinct id) — vocabulary-sized output, corpus-sized work
    only in the single aggregate."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    dec = "cast({} as decimal(38,0))"
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("id").cast("long").alias("df"),
        )
        .filter(F.col("tf") >= min_count)
        .select(
            F.col("t").alias("token"),
            "tf",
            "df",
            F.expr(
                f"cast(({dec.format('1000000')} * {dec.format('tf')})"
                f" div {dec.format('df')} as bigint)"
            ).alias("burst_ppm"),
        )
    )


def g2_keyness(
    docs: DataFrame,
    source_a: str = "src0",
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """E123 — log-likelihood keyness (Dunning 1993 G², in the
    two-cell corpus-comparison form of Rayson & Garside 2000): for
    each token, how surprising is its frequency in slice A
    (``source_a``) versus the rest of the corpus? The corpus
    linguist's "what words make this source different" — sharper than
    raw frequency ratios for rare words because it is count-weighted.

    G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] with E_a = N_a(a+b)/N,
    E_b = N_b(a+b)/N; a zero cell contributes 0 (x·ln x → 0). Emitted
    per token (a+b ≥ ``min_count``) as g2_millinats =
    round(1000·G²) — the transcendental rule: ln of one double
    expression built from identical exact integers in both engines,
    count-weighted, rounded to an integer once per row. The direction
    column ``overuse`` (= sign of a·N_b − b·N_a) is pure-integer
    cross-multiplication, so the keyness sign is pinned exactly even
    where the magnitude rounds to 0.

    Scale: one token-keyed two-cell aggregate (vocab-sized output) +
    one broadcast of the 1-row totals; no joins over corpus rows."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    cells = (
        docs.select(
            (F.col(group_col) == source_a).cast("long").alias("in_a"),
            F.explode(tokens(text_col)).alias("t"),
        )
        .groupBy("t")
        .agg(
            F.sum("in_a").cast("long").alias("a"),
            F.sum(1 - F.col("in_a")).cast("long").alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= min_count)
    )
    # Corpus totals over the FULL stream (Rayson–Garside expected
    # frequencies use whole-corpus N_a/N_b, not the ≥min_count head) —
    # a separate shuffle-free map-combinable count, NOT a sum over the
    # filtered cells.
    in_a = (F.col(group_col) == source_a).cast("long")
    tot = docs.select(
        (in_a * token_count(text_col).cast("long")).alias("wa"),
        ((1 - in_a) * token_count(text_col).cast("long")).alias("wb"),
    ).agg(
        F.sum("wa").cast("long").alias("na"),
        F.sum("wb").cast("long").alias("nb"),
    )
    term = (
        "(case when {o} = 0 then 0.0 else cast({o} as double)"
        " * ln((cast({o} as double) * (cast(na as double) + cast(nb as double)))"
        " / (cast({s} as double) * (cast(a as double) + cast(b as double)))) end)"
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("token"),
            F.col("a").alias("c_a"),
            F.col("b").alias("c_rest"),
            F.expr(
                "cast(sign(a * nb - b * na) as bigint)"
            ).alias("overuse"),
            F.expr(
                "cast(round(1000.0 * 2.0 * ("
                + term.format(o="a", s="na")
                + " + "
                + term.format(o="b", s="nb")
                + ")) as bigint)"
            ).alias("g2_millinats"),
        )
    )


def simpson_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """E124 — Simpson/Herfindahl lexical concentration per source:
    λ = Σ c(c−1) / (N(N−1)) — the probability two tokens drawn without
    replacement are the same type (Simpson 1949). Unlike entropy-based
    diversity it is a PURE RATIONAL of integer counts — no
    transcendental enters the query at all — which makes it the
    strongest-pinned diversity screen in the suite (boilerplate and
    templated sources spike λ; diverse prose sits low).

    Output per source: n_tokens, v_types, repeat_ppm = ⌊10⁶·λ⌋ and
    diversity_ppm = 10⁶ − repeat_ppm (Simpson's index of diversity).
    Σc(c−1) and N(N−1) run DECIMAL(38,0) — no token-count ceiling.
    Sources with N < 2 emit NULL ppm (insufficient draws), not a
    crash.

    Scale: one (source, token) count aggregate (the only corpus-sized
    stage), then per-source sums over the vocab-bounded table."""
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    dec = "cast({} as decimal(38,0))"
    per = (
        docs.select(F.col(group_col).alias("source"), F.explode(tokens(text_col)).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("v_types"),
            F.sum(F.expr(f"{dec.format('c')} * ({dec.format('c')} - 1)")).alias(
                "__s2"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "v_types",
            F.expr(
                f"cast(({dec.format('1000000')} * __s2)"
                f" div nullif({dec.format('n_tokens')}"
                f" * ({dec.format('n_tokens')} - 1),"
                f" cast(0 as decimal(38,0))) as bigint)"
            ).alias("repeat_ppm"),
            F.expr(
                f"cast(1000000 - ({dec.format('1000000')} * __s2)"
                f" div nullif({dec.format('n_tokens')}"
                f" * ({dec.format('n_tokens')} - 1),"
                f" cast(0 as decimal(38,0))) as bigint)"
            ).alias("diversity_ppm"),
        )
    )


def heaps_law_checkpoints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E130 — Heaps'-law vocabulary growth curve (Heaps 1978; Herdan
    1960): distinct vocabulary size V versus corpus token mass N at
    exponentially spaced document-count checkpoints (n, n/2, n/4, …, 1
    docs in ``id_col`` order). Natural text follows V ≈ K·N^β with
    β ≈ 0.4–0.7; a flat curve means templated/boilerplate text, a
    near-linear one means noise (OCR junk, random ids) — the growth
    twin of E121's Zipf slope, and the number that sizes a tokenizer
    vocabulary for a planned corpus scale-up.

    PURE INTEGER: the entire curve falls out of ONE corpus-sized
    aggregate — each token type's FIRST-SEEN doc id (min over the
    exploded stream); V at checkpoint c is then just "types whose
    first-seen rank ≤ c", and N is a conditional sum over the ranked
    per-doc token counts — K conditional aggregates evaluated
    together, no transcendental anywhere (fit β downstream if wanted).

    Output per checkpoint: (k, n_docs, n_tokens, v_types), k = 0 the
    full corpus, each next row half the documents.

    Scale: one `distributed_rank` pass over the docs table (by unique
    id), one explode→min aggregate (vocab-sized output), two K-column
    conditional aggregates; the K ≈ log2(n) thresholds are literals."""
    from train_reports_etl_spark.operators.ranking import distributed_rank
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(docs)
    # Rank input persisted (r10): the quantile sample and the rank's
    # bucket-aggregate branch otherwise re-run the tokenize scan — the
    # E99/E128 rescan lesson.
    lens = docs.select(
        F.col(id_col).alias("id"),
        token_count(text_col).cast("long").alias("w"),
    ).persist()
    ranked = None
    try:
        # One action for count + rank cut points (r11): the separate
        # ranked.count() and the rank's internal approxQuantile each
        # cost a full job; percentile_approx in the same aggregate
        # returns equally valid cuts (any cuts give identical ranks).
        qs = [i / 32 for i in range(1, 32)]
        head = lens.agg(
            F.count("*").alias("n"),
            F.percentile_approx("id", qs, 1000).alias("cuts"),
        ).collect()[0]
        n = head["n"]
        if n == 0:
            raise ValueError("heaps_law_checkpoints: empty input")
        ranked = distributed_rank(
            lens, "id", ["id"], cuts=list(head["cuts"] or [])
        ).persist()
        ranks = []
        r = n
        while r >= 1:
            ranks.append(r)
            r //= 2
        # One merged aggregate (r10: was two actions — the threshold-id
        # lookup and the conditional token sums read the same cache).
        doc_aggs = [
            F.sum(F.when(F.col("rnk") <= r, F.col("w")).otherwise(0))
            .cast("long")
            .alias(f"n{i}")
            for i, r in enumerate(ranks)
        ] + [
            F.max(F.when(F.col("rnk") == r, F.col("id"))).alias(f"t{i}")
            for i, r in enumerate(ranks)
        ]
        ntok = ranked.agg(*doc_aggs).collect()[0]
        thr = {r: ntok[f"t{i}"] for i, r in enumerate(ranks)}
        first_seen = (
            docs.select(
                F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
            )
            .groupBy("t")
            .agg(F.min("id").alias("first_id"))
        )
        v_aggs = [
            F.sum((F.col("first_id") <= thr[r]).cast("long"))
            .cast("long")
            .alias(f"v{i}")
            for i, r in enumerate(ranks)
        ]
        vrow = first_seen.agg(*v_aggs).collect()[0]
    finally:
        if ranked is not None:
            ranked.unpersist()
        lens.unpersist()
    rows = [
        (i, int(ranks[i]), int(ntok[f"n{i}"]), int(vrow[f"v{i}"]))
        for i in range(len(ranks))
    ]
    return local_frame(
        docs.sparkSession,
        rows,
        "k long, n_docs long, n_tokens long, v_types long",
    )

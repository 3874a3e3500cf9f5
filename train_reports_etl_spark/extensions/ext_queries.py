"""Oracle-checked queries for the extension operators (E1–E6).

Portability rules used here (see tools/check_correctness.py history):
- md5 is bit-identical in Spark and DuckDB → fingerprints, simhash.
- Sequential double arithmetic over arrays is bit-identical when the
  iteration order matches → cosine via list-fold on both sides.
- xxhash64 exists only in Spark → MinHash queries are declared without
  an oracle (driver records the weaker rows-only check; the *exact*
  Jaccard twin query is the strong check for the same pairs space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from train_reports_etl_spark.driver import local_frame
from train_reports_etl_spark.extensions import similarity as sim
from train_reports_etl_spark.extensions.dedup import (
    duplicate_groups,
    jaccard_pairs,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from train_reports_etl_spark.extensions.multimodal import documents_as_assets
from train_reports_etl_spark.extensions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint_md5,
    quality_metrics,
    simhash16_of,
    token_count,
)
from train_reports_etl_spark.plans.registry import bench_query, query
from train_reports_etl_spark.session import conf_scope
from train_reports_etl_spark.sources.registry import load_table
from train_reports_etl_spark.streaming.windows import (
    session_windows,
    sliding_windows,
    tumbling_windows,
)

# SQL fragment: tokens of lowercased text (DuckDB regexp matches Spark's
# for the class [a-z0-9]+).
_SQL_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


# ------------------------------------------------------------------ E1

@query(
    "e1_exact_dedup_groups",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             translate(text, 'abcdefghijklmnopqrstuvwxyz',
                             'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  '
      FROM documents WHERE doc_id % 10 = 0)
    SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS INT) AS group_size
    FROM (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
          FROM corpus)
    GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def e1_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — exact-dup groups by md5 content fingerprint (shuffle
    carries digests, not documents).

    The corpus has no byte-identical texts, so duplicates are injected:
    an upper-cased, whitespace-padded copy of every 10th doc — which
    also proves dedup is on *normalized* content, not raw bytes. The
    case flip is an ASCII-only ``translate`` rather than ``UPPER``:
    full-Unicode uppercase maps diverge between engines (Spark
    ß→SS/ﬀ→FF, DuckDB ß→ẞ/ﬀ→ﬀ — see
    tests/test_cross_engine_properties.py), and translate is a
    codepoint-1:1 map with identical semantics in both."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.translate(
                F.col("text"),
                "abcdefghijklmnopqrstuvwxyz",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            ),
            F.lit("  "),
        ).alias("text"),
    )
    return duplicate_groups(docs.unionByName(mangled)).select("fp", "keep_id", "group_size")


@query(
    "e1_distinct_documents",
    """
    SELECT CAST(COUNT(*) AS INT) AS n_docs,
           CAST(COUNT(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS INT) AS n_distinct
    FROM documents
    """,
)
def e1_distinct_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 companion — corpus-level dup-rate summary."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").cast("int").alias("n_docs"),
        F.countDistinct(fingerprint_md5("text")).cast("int").alias("n_distinct"),
    )


# ------------------------------------------------------------------ E4

@query(
    "e4_text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars, {_SQL_TOKENS} AS toks,
             LENGTH(text) AS nc,
             LENGTH(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS na
      FROM documents)
    SELECT doc_id, lang,
           CAST(nc AS INT) AS n_chars_calc,
           CAST(LEN(toks) AS INT) AS n_tokens,
           CASE WHEN LEN(toks) > 0
                THEN CAST(LEN(LIST_FILTER(toks, x -> x IN {tuple(STOPWORDS)})) AS DOUBLE) / LEN(toks)
                ELSE 0.0 END AS stopword_ratio,
           CASE WHEN nc > 0 THEN CAST(nc - na AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio
    FROM t
    """,
)
def e4_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — quality metrics (length, token count, stopword/punct
    ratios) as pure expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_metrics(docs).select(
        "doc_id", "lang", "n_chars_calc", "n_tokens", "stopword_ratio", "punct_ratio"
    )


@query(
    "e4_token_count",
    f"""
    SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS INT) AS n_tokens,
           CAST(LEN(LIST_DISTINCT({_SQL_TOKENS})) AS INT) AS n_unique_tokens
    FROM documents
    """,
)
def e4_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — token counting with the BPE-ish regex."""
    docs = load_table(spark, sf_dir, "documents")
    from train_reports_etl_spark.extensions.text import word_set

    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.size(word_set("text")).cast("int").alias("n_unique_tokens"),
    )


def _langid_sql() -> str:
    """Mirror of ``lang_count_table`` + ``argmax_lang``: counts in a CTE
    (each computed once), flat GREATEST+CASE argmax, alphabetical
    tie-break, 'und' floor."""
    ordered = sorted(LANG_MARKERS)
    count_cols = ", ".join(
        "("
        + " + ".join(f"LEN(LIST_FILTER(toks, x -> x = '{w}'))" for w in LANG_MARKERS[lang])
        + f") AS c_{lang}"
        for lang in ordered
    )
    mx = "GREATEST(" + ", ".join(f"c_{lang}" for lang in ordered) + ")"
    case = "CASE " + " ".join(
        f"WHEN c_{lang} = {mx} THEN '{lang}'" for lang in ordered
    ) + " END"
    return f"""
    WITH toked AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
    counted AS (SELECT doc_id, lang, {count_cols} FROM toked)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN {mx} > 0 THEN {case} ELSE 'und' END AS predicted_lang
    FROM counted
    """


@query("e4_lang_id", _langid_sql())
def e4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — heuristic n-gram language ID (marker-token argmax).

    Tokenizes once per row via :func:`lang_count_table` (explode +
    single codegen hash-agg) instead of one interpreted-HOF tokenizer
    pass per marker word; the argmax stays a flat GREATEST+CASE.
    """
    from train_reports_etl_spark.extensions.text import argmax_lang, lang_count_table

    docs = load_table(spark, sf_dir, "documents")
    counted = lang_count_table(docs, keep_cols=("lang",))
    pred = argmax_lang({lang: F.col(f"c_{lang}") for lang in sorted(LANG_MARKERS)})
    return counted.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@query(
    "e4_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
    """,
)
def e4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — md5 content fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


# ------------------------------------------------------------------ E2

_SQL_SHINGLES = f"""
      LIST_DISTINCT(CASE WHEN LEN(toks) = 0 THEN []
        WHEN LEN(toks) < 3 THEN [ARRAY_TO_STRING(toks, chr(31))]
        ELSE LIST_TRANSFORM(
               LIST_ZIP(toks[1:LEN(toks)-2], toks[2:LEN(toks)-1], toks[3:LEN(toks)]),
               p -> p[1] || chr(31) || p[2] || chr(31) || p[3]) END)
"""


@query(
    "e2_jaccard_near_dup",
    f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, LEN(ws) AS sz, UNNEST(ws) AS tok FROM sets),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.sz AS sz_a, b.sz AS sz_b,
             COUNT(*) AS n_inter
      FROM posting a JOIN posting b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter) AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter) >= 0.5
    """,
)
def e2_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — exact shingle-set Jaccard ≥ 0.5 via an inverted index.

    The strong-checked twin of the MinHash query: same similarity unit
    (word 3-gram shingles), exact values. Shingles, not word sets —
    word sets saturate on the tiny synthetic vocabulary and send the
    posting join quadratic (112 s vs ~5 s at sf0.1)."""
    return _shared_jaccard_pairs(spark, sf_dir)


def _shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized exact Jaccard ≥ 0.5 near-dup pair table — the SAME
    (threshold 0.5, width-3 shingles) computation was run from scratch
    by e2_jaccard_near_dup, e1_dedup_rate_curve and
    e2_lsh_recall_report (r10; each a full posting self-join). At
    100 TB this is the scored pair table a dedup pipeline writes once
    next to the corpus (the winnow_pair_graph precedent)."""
    from train_reports_etl_spark.extensions.store import shared

    return shared(
        spark,
        sf_dir,
        "jaccard_pairs_w3_t05",
        lambda: jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=0.5,
            shingle_width=3,
            posting=_shared_shingle_posting(spark, sf_dir),
        ),
    )


@bench_query("e2_minhash_lsh_near_dup")  # xxhash64 throughput twin: bench-only
def e2_minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — MinHash(32 perms)+LSH(8×4 bands) near-dup candidates with
    signature-estimated Jaccard ≥ 0.5. The scale path: candidates meet
    only inside LSH buckets.

    Production path uses JVM-side xxhash64 (no Python, no md5 cost) —
    DuckDB has no xxhash64, so the correctness gate covers this exact
    pipeline through its portable md5 twin
    ``e2_minhash_portable_near_dup``; this variant stays in bench.py's
    timing suite as the throughput path."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, threshold=0.5, posting=_shared_shingle_posting(spark, sf_dir)
    )


def _simhash_body_sql(bits: int, val: str, out_cast: str, out_col: str) -> str:
    """Shared WITH-body for the SimHash oracles (16-bit e2 twin and the
    60-bit hamming-pair twin): per-token hash ``val``, ``bits``
    conditional bit-weight sums, majority-threshold fingerprint. The
    final ``sh`` CTE LEFT JOINs from documents so zero-token docs KEEP
    a fingerprint of 0 — matching the Spark side's ``explode_outer``
    (UNNEST of an empty token list would silently drop them; NULL
    weights fall through every CASE to bit 0). The 16-bit twin hashes
    its tokens on its own (4 md5 nibbles), so the gate checks the Spark
    side's ``simhash60 >> 44`` derivation rather than sharing it."""
    bit_weights = ", ".join(
        f"SUM(CASE WHEN (v & {1 << b}) != 0 THEN 1 ELSE -1 END) AS w{b}" for b in range(bits)
    )
    fp = " + ".join(f"CASE WHEN w{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    vals AS (
      SELECT doc_id, {val} AS v FROM toks),
    weights AS (
      SELECT doc_id, {bit_weights} FROM vals GROUP BY doc_id),
    sh AS (
      SELECT d.doc_id, CAST({fp} AS {out_cast}) AS {out_col}
      FROM documents d LEFT JOIN weights USING (doc_id))"""


def _simhash_sql() -> str:
    """DuckDB twin of ``text.simhash_table`` + chunked near-dup join."""
    nib = "(strpos('0123456789abcdef', {c}) - 1)"
    val = " + ".join(
        f"{nib.format(c=f'substring(md5(t), {i + 1}, 1)')} * {16 ** (3 - i)}" for i in range(4)
    )
    return _simhash_body_sql(16, val, "INT", "simhash") + """
    SELECT doc_id, simhash FROM sh
    """


@query("e2_simhash_fingerprints", _simhash_sql())
def e2_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — 16-bit md5-based SimHash per document (oracle-checked bit
    for bit against a pure-SQL 16-bit reimplementation). The top 16
    bits of the shared 60-bit SimHash store."""
    return _shared_simhash_table(spark, sf_dir)


def _shared_simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the 16-bit fingerprint, shared by the
    fingerprint dump and the near-dup pair query. A projection of the
    ``simhash60`` store, not a store of its own: it costs no corpus
    scan."""
    return simhash16_of(_shared_simhash60_table(spark, sf_dir))


@query(
    "e2_simhash_near_dup",
    _simhash_sql().replace(
        "SELECT doc_id, simhash FROM sh",
        """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(CAST(a.simhash AS BIGINT),
                              CAST(b.simhash AS BIGINT))) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
    """,
    ),
)
def e2_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole chunk
    bucketing (4 chunks of 4 bits: ≤3 differing bits leave ≥1 chunk
    intact, so candidate generation is LOSSLESS and the result set is
    exact — which is why this can be strong-checked against a naive
    all-pairs popcount oracle even though the Spark plan never forms
    the cross product)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, max_hamming=3, fingerprints=_shared_simhash_table(spark, sf_dir)
    )


# cosine fold: bit-identical sequential double arithmetic on both sides
_SQL_COS = """
list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "e2_cosine_near_dup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_SQL_COS}, 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_SQL_COS} >= 0.3
    """,
)
def e2_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — embedding-cosine near-dup pairs (≥0.3) with same-label
    blocking (the IVF-style bucket bound on the pair space). The 0.3
    threshold sits at ~p99 of the synthetic embeddings' within-label
    cosine distribution (max ≈ 0.47), so the filter actually selects."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.cosine_near_duplicates(emb, threshold=0.3, block_col="label")
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


# ------------------------------------------------------------------ E3

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The search vector: embedding of vec_id 0 (deterministic)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(v) for v in row[0]]


_SQL_COS_Q = """
list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "e3_topk_cosine",
    f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({_SQL_COS_Q}, 6) AS cosine_sim
    FROM embeddings e, q
    ORDER BY {_SQL_COS_Q} DESC, e.vec_id
    LIMIT 10
    """,
)
def e3_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — brute-force exact top-10 by cosine to vec_id 0's embedding.

    Map-side scoring + TakeOrderedAndProject: only k rows per partition
    reach the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return sim.topk_cosine(emb, qv, k=10).select(
        "vec_id", F.round("cosine_sim", 6).alias("cosine_sim")
    )


def _kmeans_literal_centroids(k: int = 4, dim: int = 64) -> list[list[float]]:
    import random as _rnd

    rng = _rnd.Random(77)
    return [[round(rng.uniform(-1, 1), 6) for _ in range(dim)] for _ in range(k)]


def _dlit(x: float) -> str:
    """A DOUBLE literal DuckDB parses to the exact IEEE double of the
    Python float. A BARE decimal literal would not: DuckDB types it
    DECIMAL and converts decimal→double by dividing two integers that
    can exceed 2^53 (a 17-digit repr's mantissa does), double-rounding
    off by an ulp — `CAST(3.7292861938476562 AS DOUBLE)` loses the last
    digit. The VARCHAR cast goes through strtod: one correct rounding.
    (Short literals ≤15 significant digits are safe either way; this
    helper makes full-precision interpolation safe too.)"""
    return f"CAST('{x!r}' AS DOUBLE)"


def _duck_lev_cp(a: str, b: str) -> str:
    """Codepoint-aware levenshtein for DuckDB. Its native ``levenshtein``
    counts BYTES (Spark's counts codepoints — they disagree on any
    non-ASCII text; caught by tests/test_cross_engine_properties.py).
    Fix: bijectively remap the pair's joint codepoint alphabet to
    single-byte chars (chr(1)..chr(127)) — a codepoint bijection
    preserves edit distance, and on single-byte strings byte-lev ==
    codepoint-lev. Joint alphabets over 127 distinct codepoints yield
    NULL: the old fallback to the native BYTE distance silently
    diverged from Spark for any non-ASCII pair, so an unguarded caller
    now fails loudly in the hash comparison instead (ADVICE r05).
    Callers MUST pair this with a ``len(alphabet) <= 127`` predicate —
    e2_levenshtein_verify repeats it in its WHERE clause; pinned by
    test_levenshtein_large_alphabet_yields_null."""
    alpha = f"list_distinct(string_split({a} || {b}, ''))"

    def mapped(s: str) -> str:
        return (
            f"array_to_string(list_transform(string_split({s}, ''), "
            f"c_ -> chr(list_position({alpha}, c_))), '')"
        )

    return (
        f"CASE WHEN len({alpha}) <= 127 "
        f"THEN levenshtein({mapped(a)}, {mapped(b)}) "
        f"ELSE NULL END"
    )


def _duck_dot_off(expr: str, c: list[float], off: int) -> str:
    """DuckDB sequential-fold dot of a list expression against literal
    centroid ``c``, with element i of the centroid pairing against
    ``expr[i + off]`` (off=0 → the whole vector; off>0 → a PQ
    subspace slice). Same accumulation order as ``similarity.dot``
    (and plain left-to-right Python summation), so all three produce
    the identical IEEE double."""
    lit = "[" + ", ".join(_dlit(x) for x in c) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {len(c) + 1}), "
        f"i -> CAST({expr}[i + {off}] AS DOUBLE) * ({lit})[i])), "
        f"(acc, v) -> acc + v)"
    )


def _duck_dot(expr: str, c: list[float]) -> str:
    return _duck_dot_off(expr, c, 0)


def _probe_centroid(qv: list[float], cents: list[list[float]]) -> int:
    """Driver-side coarse probe over literals only (no data): nearest
    centroid to the query by −2·qv·c + |c|², argmin with lowest-index
    tie-break — the same sequential fold order as ``similarity.dot``
    and the SQL ``list_reduce``, so all sides agree on the double."""
    best, probe = None, 0
    for j, c in enumerate(cents):
        s = 0.0
        for x, y in zip(qv, c):
            s += x * y
        d = -2.0 * s + sum(x * x for x in c)
        if best is None or d < best:
            best, probe = d, j
    return probe


def _centroid_dist_arrays(cents: list[list[float]]) -> tuple[list[str], str, str]:
    """(dists, arr, qarr): per-centroid −2·v·c + |c|² select exprs for
    the data side plus the data/query distance-list SQL literals — the
    shared building block of every IVF oracle."""
    dists, qdists = [], []
    for j, c in enumerate(cents):
        sq = sum(x * x for x in c)
        dists.append(f"(-2.0 * {_duck_dot('embedding', c)} + {_dlit(sq)}) AS d{j}")
        qdists.append(f"(-2.0 * {_duck_dot('q.qv', c)} + {_dlit(sq)})")
    arr = "[" + ", ".join(f"d{j}" for j in range(len(cents))) + "]"
    qarr = "[" + ", ".join(qdists) + "]"
    return dists, arr, qarr


def _adc_lut_terms(books: list[list[list[float]]]) -> list[str]:
    """Per-subspace ADC lookup terms ``lut[code_s + 1]`` over the
    literal codebooks — shared by the PQ and IVFADC oracles."""
    terms = []
    for s, book in enumerate(books):
        sub_dim = len(book[0])
        lut = []
        for c in book:
            sq = 0.0
            for x in c:
                sq += x * x
            lut.append(f"(-2.0 * {_duck_dot_off('q.qv', c, s * sub_dim)} + {_dlit(sq)})")
        terms.append(f"([{', '.join(lut)}])[code_{s} + 1]")
    return terms


def _ivf_topk_sql(k: int = 10) -> str:
    """Strong oracle for fixed-quantizer IVF top-k: probe selection
    (argmin of −2·qv·c + |c|² over the literal centroids), cluster
    assignment for every vector, and the exact in-cluster cosine top-k
    are all re-expressed in DuckDB over the SAME centroid literals."""
    cents = _kmeans_literal_centroids()
    dists, arr, qarr = _centroid_dist_arrays(cents)
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT list_position({qarr}, list_min({qarr})) - 1 AS pc FROM q),
    d AS (SELECT vec_id, embedding, {', '.join(dists)} FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 list_position({arr}, list_min({arr})) - 1 AS cluster
          FROM d)
    SELECT e.vec_id, ROUND({_SQL_COS_Q}, 6) AS cosine_sim
    FROM a e, q, probe WHERE e.cluster = probe.pc
    ORDER BY {_SQL_COS_Q} DESC, e.vec_id
    LIMIT {k}
    """


@query("e3_ivf_topk_cosine", _ivf_topk_sql())
def e3_ivf_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — IVF ANN top-10 with a FIXED coarse quantizer (the realistic
    shape: IVF centroids are a trained artifact, fixed at query time).

    Probe = nearest literal centroid to the query vector by the
    quantizer's own metric (squared L2 via −2·v·c + |c|², the same
    argmin ``kmeans_assign`` strong-checks); candidates = the vectors
    assigned to that centroid (at scale: partition pruning on a
    cluster-partitioned layout — here a literal filter); final ranking
    = exact cosine inside the probed cell. Every stage is deterministic
    given the centroid literals, so the whole ANN pipeline — probe,
    routing, in-cell top-k — is STRONG-oracle-checked. The per-label
    variant (`similarity.ivf_topk_cosine`) stays pytest-pinned.
    """
    from train_reports_etl_spark.extensions.clustering import _assign

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cents = _kmeans_literal_centroids()
    probe = _probe_centroid(qv, cents)
    assigned = _assign(emb, cents, "vec_id", "embedding")
    pruned = assigned.filter(F.col("cluster") == probe).drop("cluster")
    return sim.topk_cosine(pruned, qv, k=10).select(
        "vec_id", F.round("cosine_sim", 6).alias("cosine_sim")
    )


# ------------------------------------------------------------------ E5

@query(
    "e5_tumbling_windows",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events GROUP BY 1, 2
    """,
)
def e5_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — 1-hour tumbling windows over event time."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_windows(ev)


@query(
    "e5_sliding_windows",
    """
    WITH g AS (
      -- CAST: DuckDB to_timestamp returns TIMESTAMP WITH TIME ZONE; the
      -- Spark side is tz-naive, so strip the zone for the dtype/hash compare.
      SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS grid, e.*
      FROM events e),
    w AS (
      SELECT UNNEST([grid, grid - INTERVAL 30 MINUTE]) AS window_start, value
      FROM g)
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM w GROUP BY 1, 2
    """,
)
def e5_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — 1-hour windows sliding every 30 minutes (each event covered
    by two windows; the oracle materializes both covers per event)."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_windows(ev)


@query(
    "e5_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM sess GROUP BY user_id, session_id
    """,
)
def e5_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — per-user session windows with a 30-minute inactivity gap
    (session end = last event + gap, matching Spark semantics)."""
    ev = load_table(spark, sf_dir, "events")
    return session_windows(ev)


def _rp_lsh_sql(threshold: float = 0.3, n_bits: int = 16, band_bits: int = 4) -> str:
    """DuckDB twin of sign-random-projection LSH near-dup: the SAME
    literal hyperplanes (deterministic seed) embed in both plans, so
    candidate generation — an approximation of the pair space — is
    bit-identical, not just statistically similar."""
    planes = sim.random_hyperplanes(64, n_bits)
    bit_exprs = ", ".join(
        "CAST((list_sum(list_transform(list_zip(embedding, ["
        + ", ".join(repr(x) for x in p)
        + "]), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0) AS INT)"
        + f" AS b{i}"
        for i, p in enumerate(planes)
    )
    n_bands = n_bits // band_bits
    band_exprs = ", ".join(
        " + ".join(f"b{bd * band_bits + i} * {1 << i}" for i in range(band_bits))
        + f" AS k{bd}"
        for bd in range(n_bands)
    )
    buck_union = " UNION ALL ".join(
        f"SELECT id, {bd} AS band, k{bd} AS bucket FROM bands" for bd in range(n_bands)
    )
    return f"""
    WITH bits AS (SELECT vec_id AS id, {bit_exprs} FROM embeddings),
    bands AS (SELECT id, {band_exprs} FROM bits),
    buck AS ({buck_union}),
    cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
             FROM buck x JOIN buck y
               ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)
    SELECT c.id_a, c.id_b, ROUND({_SQL_COS}, 6) AS cosine_sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_a
    JOIN embeddings b ON b.vec_id = c.id_b
    WHERE {_SQL_COS} >= {threshold}
    """


@query("e2_rp_lsh_near_dup", _rp_lsh_sql())
def e2_rp_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3 — embedding near-dup via sign-random-projection LSH:
    16 hyperplane sign bits, 4 bands × 4 bits, exact-cosine verify of
    band-colliding candidates. The label-free scale path — pair space
    bounded by the data's geometry instead of a cluster column — and
    still STRONG-oracle-checked because the hyperplanes are shared
    literals (see _rp_lsh_sql)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.rp_lsh_near_duplicates(emb, threshold=0.3, n_bits=16, band_bits=4, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


# SQL twins of the rolling-hash machinery (text.py): portable 16-bit
# token value from md5 nibbles + the (acc·B + v + 1) mod M fold.
_SQL_TOKVAL = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(t), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
    for i in range(4)
)
_SQL_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), {vs}), "
    "(acc, v) -> (acc * 1000003 + v + 1) % 2147483647)"
)


@query(
    "e4_rolling_fingerprint",
    f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    vals AS (
      SELECT doc_id, list_transform(toks, t -> CAST(({_SQL_TOKVAL}) AS BIGINT)) AS vs
      FROM toked)
    SELECT doc_id, CAST({_SQL_FOLD.format(vs='vs')} AS BIGINT) AS rolling_fp
    FROM vals
    """,
)
def e4_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — Rabin-Karp rolling hash of each document's token sequence
    (position-sensitive, unlike the md5 set fingerprint). Pure JVM
    array-HOF arithmetic; oracle is the identical fold in DuckDB. The
    fold fuses into the scan, so the input goes through
    ``repartition_if_coarse`` (round-9 row-group audit: 3.6x)."""
    from train_reports_etl_spark.extensions.text import rolling_fingerprint
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(
        load_table(spark, sf_dir, "documents"), min_rows=10_000
    )
    return docs.select("doc_id", rolling_fingerprint("text").alias("rolling_fp"))


def _winnow_ctes(k: int = 5, w: int = 4) -> str:
    """Shared WITH-body computing ``fps(id, fp)`` — the winnowed
    fingerprint posting table (DuckDB twin of winnowed_fingerprints)."""
    fold = _SQL_FOLD.format(vs=f"vs[i:i+{k - 1}]")
    whole = _SQL_FOLD.format(vs="vs")
    return f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    vals AS (
      SELECT doc_id, list_transform(toks, t -> CAST(({_SQL_TOKVAL}) AS BIGINT)) AS vs
      FROM toked),
    grams AS (
      SELECT doc_id,
             CASE WHEN LEN(vs) = 0 THEN []
                  WHEN LEN(vs) - {k - 1} <= 0 THEN [CAST({whole} AS BIGINT)]
                  ELSE list_transform(range(1, LEN(vs) - {k - 1} + 1),
                                      i -> CAST({fold} AS BIGINT)) END AS g
      FROM vals),
    wins AS (
      SELECT doc_id,
             CASE WHEN LEN(g) = 0 THEN []
                  WHEN LEN(g) - {w - 1} <= 0 THEN [list_min(g)]
                  ELSE list_transform(range(1, LEN(g) - {w - 1} + 1),
                                      i -> list_min(g[i:i+{w - 1}])) END AS mins
      FROM grams),
    fps AS (
      SELECT doc_id AS id, CAST(UNNEST(list_distinct(mins)) AS BIGINT) AS fp
      FROM wins)"""


def _winnow_sql(k: int = 5, w: int = 4) -> str:
    return _winnow_ctes(k, w) + "\n    SELECT id, fp FROM fps\n    "


@query("e4_winnowed_fingerprints", _winnow_sql())
def e4_winnowed_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E2 — winnowing (MOSS): distinct minima over windows of w=4
    consecutive k=5-gram rolling hashes; any shared token run of
    ≥ w+k−1 tokens between two docs shares a fingerprint. Exploded
    (id, fp) rows — the input to a fingerprint-bucket dedup join."""
    return _shared_winnow_fps(spark, sf_dir)


@query(
    "e5_asof_join_last_view",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    r AS (
      SELECT user_id, ts, MAX(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
    SELECT l.event_id, l.user_id, l.ts, r.ts AS matched_ts,
           r.view_value AS matched_view_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts > r.ts
    """,
)
def e5_asof_join_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — as-of join: each purchase picks up the latest STRICTLY
    earlier view of the same user (value of the page they came from).
    Distributed union-sort-window formulation (operators/temporal.py);
    oracle is DuckDB's native ASOF LEFT JOIN. The right side is
    pre-aggregated per (user, ts) so ties are deterministic."""
    from train_reports_etl_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    r = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    return asof_join(l, r, on="user_id", right_cols=("view_value",))


@query(
    "e5_range_join_error_views",
    """
    SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_views_60s
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT ts FROM events WHERE event_type = 'view') v
      ON v.ts BETWEEN e.ts - INTERVAL 1 MINUTE AND e.ts
    GROUP BY e.event_id
    """,
)
def e5_range_join_error_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — range join with NO equality key: views within the minute
    preceding each error, via 60 s bucket-overlap candidates + exact
    BETWEEN verify (a naive theta-join is a cross product; the bucket
    equi-join bounds the pair space — operators/temporal.py)."""
    from train_reports_etl_spark.operators.temporal import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("ts")
    pairs = range_join_bucketed(
        errors,
        views,
        F.col("ts") - F.expr("INTERVAL 1 MINUTE"),
        F.col("ts"),
        bucket_width_s=60,
    )
    return pairs.groupBy("event_id").agg(F.count("*").alias("n_views_60s"))


@query(
    "e2_winnow_near_dup",
    _winnow_ctes()
    + """
    SELECT a.id AS doc_a, b.id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
    GROUP BY a.id, b.id HAVING COUNT(*) >= 2
    """,
)
def e2_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — near-dup candidates from winnowed fingerprints: pairs
    sharing ≥2 selected minima (each shared fingerprint witnesses a
    common token run of ≥ w+k−1 = 8 tokens). The fingerprint-bucket
    self-join is the plagiarism-detection shape: pair space bounded by
    fingerprint collisions, not |docs|²."""
    fps = _shared_winnow_fps(spark, sf_dir)
    a = fps.select(F.col("fp"), F.col("id").alias("doc_a"))
    b = fps.select(F.col("fp"), F.col("id").alias("doc_b"))
    return (
        a.join(b.hint("merge"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def _stream_events(spark: SparkSession, sf_dir: str):
    """File-source *stream* over the events table (single micro-batch:
    the parquet file is fully available up front).

    Same timestamp-unit handling as ``load_table`` — probe the parquet
    footer: TIMESTAMP(NANOS) files are read as raw nanos longs and
    truncated to micros (Spark's vectorized reader rejects NANOS);
    MICROS files are read as TIMESTAMP_NTZ matching the file and cast
    to session-zoned TIMESTAMP (lossless under the UTC session pin).
    The file stream source needs a directory, so point at ``sf_dir``
    with a glob for the one file.
    """
    from train_reports_etl_spark.sources.registry import _nanos_timestamp_cols

    ns_cols = _nanos_timestamp_cols(f"{sf_dir}/events.parquet")
    if "ts" in ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks REQUIRE session-zoned TIMESTAMP event time (Spark
    # raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so the cast
    # is mandatory here — its session-timezone dependence is a Spark
    # streaming limitation, lossless under the engine's UTC pin (and
    # this container runs UTC even on unpinned sessions).
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory_until_flushed(out, name: str, n_state_partitions: int = 8):
    """Like :func:`_run_to_memory`, but for APPEND-mode windowed aggs
    whose emission happens in the watermark-commit (no-data) micro-batch
    *after* the data batch: keep cycling ``processAllAvailable`` until
    the sink row count is stable across two rounds. Bounded retries —
    the pending emission is already scheduled once the watermark
    advanced, so stability ⇒ flushed."""
    import time

    spark = out.sparkSession
    with conf_scope(spark, "spark.sql.shuffle.partitions", str(n_state_partitions)):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
        last, stable = -1, 0
        for _ in range(30):
            n = spark.table(name).count()
            stable = stable + 1 if n == last else 0
            if stable >= 2:
                break
            last = n
            time.sleep(0.05)
            q.processAllAvailable()
    finally:
        q.stop()
    return q


def _run_counting_until_flushed(out, n_state_partitions: int = 8) -> int:
    """foreachBatch COUNTING sink for scale-probe runs (VERDICT r08
    what's-wrong #4): the memory sink collects every emitted row to
    the driver, so once a windowed agg emits millions of rows the
    probe's wall measures the collect, not the operator
    (e5_streaming_session_windows fitted α 1.21 at x30 purely from
    ~2.9M collected session rows). Counting runs in the executors —
    same flush-until-stable protocol, returns total emitted rows."""
    import time

    totals = {"rows": 0}

    def _count(df, _epoch_id):
        totals["rows"] += df.count()

    spark = out.sparkSession
    with conf_scope(spark, "spark.sql.shuffle.partitions", str(n_state_partitions)):
        q = out.writeStream.outputMode("append").foreachBatch(_count).start()
    try:
        q.processAllAvailable()
        last, stable = -1, 0
        for _ in range(30):
            n = totals["rows"]
            stable = stable + 1 if n == last else 0
            if stable >= 2:
                break
            last = n
            time.sleep(0.05)
            q.processAllAvailable()
    finally:
        q.stop()
    return totals["rows"]


def _probe_session_windows_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of ``e5_streaming_session_windows``: identical
    operator pipeline, counting sink instead of the memory sink. The
    returned 1-row frame carries the emitted-row count; the probe's
    measured wall is the operator's (registered in PROBE_VARIANTS,
    consumed by tools/scale_probe.py — never part of the gate)."""
    from train_reports_etl_spark.streaming.windows import streaming_session_sums

    out = streaming_session_sums(_stream_events(spark, sf_dir))
    n = _run_counting_until_flushed(out)
    return local_frame(spark, [(int(n),)], "emitted_rows bigint")


#: probe-only sink overrides: query name -> callable with the same
#: (spark, sf_dir) signature whose WALL isolates the operator from a
#: harness artifact. tools/scale_probe.py prefers these when present.
PROBE_VARIANTS: dict = {
    "e5_streaming_session_windows": _probe_session_windows_counting,
}


def _run_to_memory(out, name: str, n_state_partitions: int = 8):
    """Run a streaming DataFrame to completion into a memory sink
    (deterministic: source is one micro-batch).

    ``spark.sql.shuffle.partitions`` is pinned low around ``start()``
    (plan time) — it becomes the stateful operator's state-store
    partition count, and a few thousand keys don't amortize 32–200
    store instances + Python workers per micro-batch (the driver's
    vanilla session would use 200). Restored immediately after start.
    """
    spark = out.sparkSession
    with conf_scope(spark, "spark.sql.shuffle.partitions", str(n_state_partitions)):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


@query(
    "e1_streaming_dedup_first_seen",
    """
    SELECT user_id AS key, MIN(ts) AS first_ts,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dups_in_batch
    FROM events GROUP BY user_id
    """,
)
def e1_streaming_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 streaming — ``applyInPandasWithState`` cross-batch first-seen
    dedup, run over the events *stream* keyed by user_id. With the whole
    table in one micro-batch the emitted set is exactly "first event per
    key" — strong-oracle-checkable while the operator itself carries
    watermark-bounded per-key state (see streaming/stateful.py).

    No-data micro-batches are disabled for the run (r11 — the
    e5_stateful_sessionize/e85 precedent): the dedup emits each first
    sight IN the batch that carries it, and its timeout path only
    ``state.remove()``s — so the watermark-advance batch re-ran the
    whole 8-partition Python state stage to emit NOTHING. Measured per
    run: a 0-input micro-batch with addBatch ≈ 1.2 s of a 3.6 s wall.
    State expiry under live watermarks stays pytest-pinned
    (tests/test_streaming.py)."""
    from train_reports_etl_spark.streaming.stateful import streaming_dedup_first_seen

    with conf_scope(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        out = streaming_dedup_first_seen(
            _stream_events(spark, sf_dir), key_col="user_id", ts_col="ts"
        )
        _run_to_memory(out, "e1_streaming_dedup_sink")
    return spark.table("e1_streaming_dedup_sink")


@query(
    "e5_stateful_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked),
    agg AS (
      SELECT user_id AS key, MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY MIN(ts) DESC) AS rn
      FROM sess GROUP BY user_id, session_id)
    SELECT key, session_start, session_end, n_events, sum_value_cents
    FROM agg WHERE rn > 1
    """,
)
def e5_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 streaming — custom ``applyInPandasWithState`` sessionizer over
    the events stream: sessions closed by a 30-min event-time gap,
    emitted exactly once at closure with per-session payload.

    No-data micro-batches are disabled for the run so emission is
    exactly "every session closed by an in-batch gap" = all but each
    key's last session — SQL-expressible, hence a STRONG oracle for a
    stateful streaming operator. (Timeout-driven closure of the
    trailing sessions is exercised in tests/test_streaming.py — its
    boundary depends on watermark no-data batches, which is runtime
    scheduling, not data, so it stays out of the oracle contract.)"""
    from train_reports_etl_spark.streaming.stateful import streaming_sessionize

    with conf_scope(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        out = streaming_sessionize(
            # LONG cents: the sessionizer preserves the integral class,
            # folding in int64 state — exact at any scale, on-policy
            # with every other integer-cents migration (a double fold
            # is exact only below 2^53 partial sums)
            _stream_events(spark, sf_dir).withColumn(
                "value_cents", F.round(F.col("value") * 100).cast("long")
            ),
            key_col="user_id",
            ts_col="ts",
            value_col="value_cents",
            gap_ms=1_800_000,
            watermark="30 minutes",
        )
        _run_to_memory(out, "e5_stateful_sessionize_sink")
    return spark.table("e5_stateful_sessionize_sink").withColumn(
        "sum_value_cents", F.col("sum_value").cast("long")
    ).drop("sum_value")


@query(
    "e5_streaming_sliding_windows",
    """
    WITH mx AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS wm_ms FROM events),
    g AS (
      SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS grid, e.*
      FROM events e),
    w AS (
      SELECT UNNEST([grid, grid - INTERVAL 30 MINUTE]) AS window_start, value
      FROM g),
    agg AS (
      SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
             CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM w GROUP BY 1, 2)
    SELECT window_start, window_end, n_events, sum_value_cents
    FROM agg, mx
    WHERE epoch_ms(window_end) <= wm_ms
    """,
)
def e5_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 streaming — sliding windows in APPEND mode over the events
    stream: only windows the watermark has finalized are emitted (once,
    exactly). The oracle mirrors Spark's emission rule — window_end ≤
    max event time (ms-truncated) − delay — so the *streaming protocol
    itself* (watermark computation + append finalization), not just the
    window arithmetic, is strong-oracle-checked. Windows still open at
    end-of-stream are deliberately absent from both sides."""
    from train_reports_etl_spark.streaming.windows import streaming_sliding_sums

    out = streaming_sliding_sums(_stream_events(spark, sf_dir))
    _run_to_memory_until_flushed(out, "e5_streaming_sliding_sink")
    return spark.table("e5_streaming_sliding_sink")


# ------------------------------------------------------------------ E6

@query(
    "e6_multimodal_metadata",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def e6_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — multimodal asset table: opaque binary payload + typed
    metadata; payload integrity oracle-checked via byte length + md5.
    (The Pandas-UDF decode path is exercised in tests — stubbed codec.)
    """
    docs = load_table(spark, sf_dir, "documents")
    assets = documents_as_assets(docs)
    return assets.select(
        "asset_id",
        "media_type",
        "n_bytes",
        F.md5(F.col("payload")).alias("checksum"),
    )


# ------------------------------------------------------------------ E4 (corpus stats)

@query(
    "e4_tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (
      SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, t, tf, df, tf * ln(n_docs / df) AS score
      FROM tf JOIN dfreq USING (t), n),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY ROUND(score, 9) DESC, t) AS INT) AS rn
      FROM scored)
    SELECT doc_id, t AS term, tf, df, ROUND(score, 6) AS score, rn
    FROM ranked WHERE rn <= 1
    """,
)
def e4_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — highest-TF-IDF term per document (corpus keyword
    extraction). One explode feeds both the per-doc TF and the corpus
    DF; N joins in as a broadcast scalar. The rank orders by the score
    rounded to 9 dp (a 1-ulp ``ln`` divergence between engines cannot
    flip the order) with the term as tie-break."""
    from train_reports_etl_spark.extensions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_n=1)


@query(
    "e4_repetition_metrics",
    f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    tok AS (SELECT doc_id, UNNEST(toks) AS t FROM toked),
    cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    top AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(MAX(c) AS BIGINT) AS top_cnt
      FROM cnt GROUP BY 1),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS g
      FROM toked),
    g2 AS (
      SELECT doc_id, CAST(LEN(g) AS BIGINT) AS n_2grams,
             CAST(LEN(list_distinct(g)) AS BIGINT) AS n_distinct_2grams
      FROM grams WHERE LEN(g) > 0)
    SELECT t.doc_id, n_tokens,
           CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_ratio,
           COALESCE(CAST(n_2grams - n_distinct_2grams AS DOUBLE) / n_2grams, 0.0)
             AS dup_2gram_frac
    FROM top t LEFT JOIN g2 USING (doc_id)
    """,
)
def e4_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — Gopher-style repetition signals (top-token share, duplicate
    2-gram fraction) via one explode + codegen lead() 2-grams. Ratios
    are single int/int divisions — bit-identical across engines."""
    from train_reports_etl_spark.extensions.text import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs)


# ------------------------------------------------------------------ E7

def _corpus_sql() -> dict[str, str]:
    from train_reports_etl_spark.extensions.corpus import bucket_sql

    b = bucket_sql("doc_id")
    split = f"""
    WITH b AS (SELECT doc_id, CAST({b} AS INT) AS bucket FROM documents)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """
    sample = """
    WITH r AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS INT) AS rn
      FROM documents)
    SELECT doc_id, lang, rn FROM r WHERE rn <= 10
    """
    pack = f"""
    WITH t AS (
      SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT *, SUM(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT shard, chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM (SELECT *, CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS chunk_id FROM c)
    GROUP BY shard, chunk_id
    """
    bucket_id = bucket_sql("id")
    contamination = (
        _winnow_ctes()
        + f""",
    tr AS (SELECT id AS train_id, fp FROM fps WHERE {bucket_id} < 205),
    ev AS (SELECT id AS eval_id, fp FROM fps WHERE {bucket_id} >= 230)
    SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev USING (fp)
    GROUP BY 1, 2 HAVING COUNT(*) >= 1
    """
    )
    return {
        "split": split,
        "sample": sample,
        "pack": pack,
        "contamination": contamination,
    }


_CORPUS_SQL = _corpus_sql()


@query("e7_split_assign", _CORPUS_SQL["split"])
def e7_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — deterministic train/val/test assignment: a pure per-row
    function of md5(doc_id) (never rand()), so re-runs, backfills and
    partition recoveries land every document in the same split. Narrow
    plan — zero shuffles."""
    from train_reports_etl_spark.extensions.corpus import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return split_assign(docs).select("doc_id", "bucket", "split")


@query("e7_stratified_sample", _CORPUS_SQL["sample"])
def e7_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — deterministic stratified sample: the 10 docs whose
    md5(key) sorts first within each lang stratum. Window group-limit
    pushes rank ≤ k into the sort — per-stratum state is k rows, so a
    skewed stratum cannot blow up an executor."""
    from train_reports_etl_spark.extensions.corpus import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, strata_col="lang", id_col="doc_id", k=10)


@query("e7_pack_sequences", _CORPUS_SQL["pack"])
def e7_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — context-window packing: concatenate docs in key order per
    shard, cut every 2048 tokens; a doc belongs to the chunk where it
    starts. Per-shard windows keep the running cumsum parallel — no
    global ORDER BY at 100 TB."""
    from train_reports_etl_spark.extensions.corpus import pack_sequences
    from train_reports_etl_spark.extensions.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    return pack_sequences(docs, budget=2048)


@query("e7_contamination_pairs", _CORPUS_SQL["contamination"])
def e7_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E7 — eval-set contamination: (train_doc, eval_doc) pairs
    sharing winnowed fingerprints (a common ≥8-token run crosses the
    split boundary). Bipartite fingerprint-bucket join — work scales
    with shared prints, never |train| × |eval|."""
    from train_reports_etl_spark.extensions.corpus import contamination_pairs

    docs = load_table(spark, sf_dir, "documents")
    return contamination_pairs(
        docs, min_shared=1, fingerprints=_shared_winnow_fps(spark, sf_dir)
    )


# ------------------------------------------------------- E1/E2 clusters

def _shared_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized winnow-fingerprint signature table.

    Seven queries consume the same (id, fp) table (fingerprint dump,
    near-dup pairs, clusters, keep-best, BFS, degree distribution,
    triangle count, edit-distance verify). At 100 TB this is a
    signature table written once next to the corpus; in-process the
    store persists it so each consumer scans cached (id, fp) rows
    instead of re-running tokenize + rolling hash + windowed minima
    over every document (see extensions/store.py)."""
    from train_reports_etl_spark.extensions.store import shared
    from train_reports_etl_spark.extensions.text import winnowed_fingerprints

    return shared(
        spark,
        sf_dir,
        "winnow_fps",
        lambda: winnowed_fingerprints(load_table(spark, sf_dir, "documents")),
    )


def _winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared near-dup pair graph: winnowed-fingerprint bucket
    self-join, >= 2 shared fingerprints (the same policy the
    _clusters_sql / keep-best / BFS oracles re-express in SQL). One
    definition so the graph queries can never disagree about what an
    edge is. Materialized via the signature store — four graph
    queries walk the identical edge set."""
    from train_reports_etl_spark.extensions.store import shared

    def build() -> DataFrame:
        fps = _shared_winnow_fps(spark, sf_dir)
        a = fps.select("fp", F.col("id").alias("doc_a"))
        b = fps.select("fp", F.col("id").alias("doc_b"))
        return (
            a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= 2)
        )

    return shared(spark, sf_dir, "winnow_pair_graph", build)


def _clusters_sql() -> str:
    """Transitive closure via recursive CTE — DuckDB walks the
    near-dup graph exhaustively (fine at oracle scale), the Spark side
    runs large-star/small-star; both must land identical components."""
    body = _winnow_ctes().replace("WITH toked", "WITH RECURSIVE toked", 1)
    return (
        body
        + """,
    pairs AS (
      SELECT a.id AS u, b.id AS v
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node),
    comp AS (
      SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY 1),
    sizes AS (
      SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1)
    SELECT doc_id, cluster_rep, cluster_size FROM comp JOIN sizes USING (cluster_rep)
    """
    )


@query("e1_dedup_clusters", _clusters_sql())
def e1_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 — near-dup *clusters*: connected components over the
    winnowed-fingerprint pair graph (A~B and B~C merge even when A~C
    was never scored), canonical representative = min doc id, every
    document assigned (singletons are their own rep). Spark side is
    alternating large-star/small-star — O(log n) rounds, never
    diameter-bound; the oracle is an exhaustive recursive-CTE closure."""
    return _shared_winnow_clusters(spark, sf_dir)


def _shared_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized cluster assignment (doc_id, cluster_rep,
    cluster_size) over the winnow pair graph — consumed by both the
    cluster dump and the keep-best policy query, and the most
    expensive shared intermediate (iterative CC). One CC run per
    (application, sf_dir)."""
    from train_reports_etl_spark.extensions.graph import dedup_clusters
    from train_reports_etl_spark.extensions.store import shared

    return shared(
        spark,
        sf_dir,
        "winnow_dedup_clusters",
        lambda: dedup_clusters(
            _winnow_pairs(spark, sf_dir), load_table(spark, sf_dir, "documents")
        ),
    )


# ------------------------------------------------------------ E4 sketches

def _kmv_sql(k: int = 128) -> str:
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    scale = float(1 << 60)
    return f"""
    WITH tok AS (SELECT lang, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    h AS (SELECT DISTINCT lang, {hash60_sql('t')} AS h FROM tok),
    r AS (SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
    kk AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash
      FROM r WHERE rn <= {k} GROUP BY lang),
    ex AS (
      SELECT lang, CAST(COUNT(DISTINCT t) AS BIGINT) AS exact_distinct
      FROM tok GROUP BY lang)
    SELECT lang, exact_distinct, n_kept,
           ROUND(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
                      ELSE ({k} - 1) / (kth_hash / {scale}) END, 6) AS kmv_estimate
    FROM ex JOIN kk USING (lang)
    """


@query("e4_kmv_distinct", _kmv_sql())
def e4_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — KMV (k-minimum-values) distinct-token estimate per lang,
    side by side with the exact count. The portable, *mergeable*
    cardinality sketch: integer hashing + one double division, so the
    estimate itself — not just the plumbing — is strong-oracle-checked
    (HLL sketches can't be). Merge law proven in tests/test_sketches.py.
    """
    from train_reports_etl_spark.extensions.sketches import kmv_estimate
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens("text")).alias("t"))
    exact = tok.groupBy("lang").agg(
        F.count_distinct("t").cast("long").alias("exact_distinct")
    )
    est = kmv_estimate(tok, ["lang"], "t", k=128)
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", "n_kept", "kmv_estimate"
    )


@query(
    "e4_heavy_hitters",
    f"""
    WITH tok AS (SELECT doc_id, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    agg AS (
      SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM tok GROUP BY 1),
    top AS (SELECT * FROM agg ORDER BY n_occurrences DESC, term LIMIT 20)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) AS INT) AS rank,
           term, n_occurrences, n_docs
    FROM top
    """,
)
def e4_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — exact corpus top-20 tokens (vocabulary head): token-keyed
    partial agg + TakeOrderedAndProject; deterministic term tie-break."""
    from train_reports_etl_spark.extensions.corpus import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, top_n=20)


# ------------------------------------------------------------- E4 PII/URL

# Deterministic PII injection (the synthetic corpus has none): both
# engines append an identical tail built from doc_id, so the redacted
# string is byte-comparable end to end.
_PII_TAIL_SQL = (
    "' contact user' || CAST(doc_id AS STRING) || '@mail.example.com"
    " or 555-' || CAST(1000 + doc_id % 9000 AS STRING) ||"
    " ' at ' || CAST(doc_id % 250 + 1 AS STRING) || '.' ||"
    " CAST(doc_id % 200 + 1 AS STRING) || '.' ||"
    " CAST(doc_id % 150 + 1 AS STRING) || '.' ||"
    " CAST(doc_id % 100 + 1 AS STRING) ||"
    " ' see https://site' || CAST(doc_id % 50 AS STRING) || '.example.org/p/'"
    " || CAST(doc_id AS STRING) ||"
    " CASE WHEN doc_id % 3 = 0 THEN ' cc user' || CAST(doc_id AS STRING)"
    " || 'b@mail.example.com' ELSE '' END"
)
_PII_AUG_SQL = f"SELECT doc_id, text || {_PII_TAIL_SQL} AS text FROM documents"


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PII_AUG_SQL as a pure expression (no temp-view
    side effects in a shared session): F.expr parses the same SQL tail
    against the loaded frame's columns."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(F.col("text"), F.expr(_PII_TAIL_SQL)).alias("text"),
    )


@query(
    "e4_pii_redaction",
    f"""
    WITH aug AS ({_PII_AUG_SQL}),
    s AS (
      SELECT doc_id, text AS t0,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1
      FROM aug),
    s2 AS (
      SELECT *, regexp_replace(t1, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '<IP>', 'g') AS t2 FROM s)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS INT) AS n_emails,
           CAST(LEN(regexp_extract_all(t1, '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS INT) AS n_ips,
           CAST(LEN(regexp_extract_all(t2, '555-[0-9][0-9][0-9][0-9]')) AS INT) AS n_phones,
           regexp_replace(t2, '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS redacted
    FROM s2
    """,
)
def e4_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — PII scrub over the injected corpus: emails, IPv4s and
    phone-like tokens counted then replaced by typed placeholders.
    The redacted string compares byte-for-byte across engines — the
    strongest possible check of regex-dialect parity."""
    from train_reports_etl_spark.extensions.text import redact_pii

    return redact_pii(_pii_augmented(spark, sf_dir))


@query(
    "e4_url_hosts",
    f"""
    WITH aug AS ({_PII_AUG_SQL}),
    u AS (
      SELECT doc_id, UNNEST(regexp_extract_all(text, 'https?://[^ ]+')) AS url
      FROM aug)
    SELECT regexp_extract(url, '://([^/]+)', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM u GROUP BY 1
    """,
)
def e4_url_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — per-host URL rollup (domain blocklists / per-site caps):
    extract-all → explode → host capture → host-keyed agg."""
    from train_reports_etl_spark.extensions.text import url_hosts

    hosts = url_hosts(_pii_augmented(spark, sf_dir))
    return hosts.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )


@query(
    "e5_stream_stream_join",
    """
    SELECT p.user_id, p.event_id AS l_event_id, v.event_id AS r_event_id,
           p.ts AS l_ts, v.ts AS r_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 12 HOUR AND p.ts
    """,
)
def e5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — stream-stream interval join: purchases matched to the same
    user's views in the preceding 12 hours, BOTH sides live streams.
    The range predicate + watermarks bound the join state (views the
    watermark has passed are evicted); inner-join emission is
    match-time, so the single-batch source reproduces the batch join
    exactly and the operator is strong-oracle-checked.

    No-data micro-batches are disabled for the run (r11): an INNER
    stream-stream join emits only at match time, so the
    watermark-advance batch re-ran the whole two-sided state-store
    join stage purely to evict state and emit nothing — measured
    ~1.0 s of a ~3.9 s wall (0-input addBatch 761 ms). State eviction
    under live watermarks stays pytest-pinned
    (tests/test_streaming.py)."""
    from train_reports_etl_spark.streaming.joins import streaming_interval_join

    ev1 = _stream_events(spark, sf_dir)
    ev2 = _stream_events(spark, sf_dir)
    purchases = ev1.filter(F.col("event_type") == "purchase")
    views = ev2.filter(F.col("event_type") == "view")
    with conf_scope(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        out = streaming_interval_join(purchases, views, lookback="12 hours")
        _run_to_memory(out, "e5_stream_stream_sink")
    return spark.table("e5_stream_stream_sink")


def _corpus_pipeline_sql() -> str:
    from train_reports_etl_spark.extensions.corpus import bucket_sql

    b = bucket_sql("doc_id")
    return f"""
    WITH t AS (
      SELECT doc_id, text, CAST(LEN({_SQL_TOKENS}) AS INT) AS n_tokens
      FROM documents),
    f AS (SELECT * FROM t WHERE n_tokens >= 30),
    d AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        ORDER BY doc_id) AS rn
      FROM f),
    k AS (SELECT doc_id, n_tokens FROM d WHERE rn = 1),
    s AS (
      SELECT doc_id, n_tokens,
             CASE WHEN {b} < 205 THEN 'train'
                  WHEN {b} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM k)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM s GROUP BY 1
    """


@query("e7_corpus_pipeline", _corpus_pipeline_sql())
def e7_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — the whole corpus build end to end: token-floor quality gate
    → exact dedup (min-id canonical) → deterministic split → per-split
    accounting. Exercises stage *composition* — filters feed the
    digest-keyed dedup shuffle, the split is a narrow expression on the
    deduped survivors — not just each stage alone."""
    from train_reports_etl_spark.extensions.corpus import build_corpus_summary

    docs = load_table(spark, sf_dir, "documents")
    return build_corpus_summary(docs, min_tokens=30)


@query(
    "e1_incremental_new_docs",
    """
    WITH seen AS (
      SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents WHERE doc_id % 2 = 0),
    today AS (
      SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents)
    SELECT t.doc_id FROM today t
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = t.fp)
    """,
)
def e1_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — incremental ingest dedup: which of today's documents are
    content-new vs an already-seen snapshot (here: the even-id half)?
    Anti-join on md5 fingerprints — the shuffle carries digests only,
    and the seen side can be a *stored* fingerprint table, so daily
    increments never rescan the historical corpus."""
    from train_reports_etl_spark.extensions.dedup import new_documents

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return new_documents(docs, seen).select("doc_id")


# ------------------------------------------------------------ E3 k-means
# (_kmeans_literal_centroids is defined up at the IVF query — the IVF
# coarse quantizer and kmeans_assign share the same fixed centroids.)

def _kmeans_assign_sql() -> str:
    """Shared-literal-centroid trick (same as the RP-LSH hyperplanes):
    both engines get identical centroid literals, the dot product is
    the established sequential fold, so the argmin — including the
    lowest-index tie-break — is bit-identical."""
    cents = _kmeans_literal_centroids()
    dists = []
    for j, c in enumerate(cents):
        lit = "[" + ", ".join(_dlit(x) for x in c) + "]"
        sq = sum(x * x for x in c)
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i])), "
            f"(acc, v) -> acc + v)"
        )
        dists.append(f"(-2.0 * {dot} + {_dlit(sq)}) AS d{j}")
    arr = "[" + ", ".join(f"d{j}" for j in range(len(cents))) + "]"
    return f"""
    WITH d AS (SELECT vec_id, {', '.join(dists)} FROM embeddings)
    SELECT vec_id, CAST(list_position({arr}, list_min({arr})) - 1 AS INT) AS cluster
    FROM d
    """


@query("e3_kmeans_assign", _kmeans_assign_sql())
def e3_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — k-means cluster assignment with shared literal centroids:
    STRONG-checks the distributed argmin (−2·v·c + |c|² distances,
    sequential-fold dot products, lowest-index tie-break) that both
    `kmeans_fit` iterations and IVF routing reuse."""
    from train_reports_etl_spark.extensions.clustering import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, _kmeans_literal_centroids())


def _kmeans_fit_sql(k: int = 4, n_iter: int = 3, dim: int = 64) -> str:
    """Full Lloyd's-iteration replay in SQL. Portable because the Spark
    fit (`clustering.kmeans_fit_portable`) quantizes components to
    integers: every centroid is an exact bigint sum / exact count, so
    both engines derive bit-identical doubles, and the distances reuse
    the established sequential-fold + lowest-index-argmin contract
    (here via ROW_NUMBER ordered by (distance, j), equivalent to
    Spark's array_position-of-min)."""
    rng = f"range(1, {dim + 1})"
    dot_vc = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({rng}, i -> CAST(vq[i] AS DOUBLE) * c[i])), "
        f"(acc, v) -> acc + v)"
    )
    sq_c = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({rng}, i -> c[i] * c[i])), "
        f"(acc, v) -> acc + v)"
    )
    ctes = [
        # FLOOR (not ROUND): bit-identical across engines, see
        # clustering.quantize_vectors.
        "q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vq "
        "FROM embeddings)",
        # hash-order seeds become clusters 0..k-1 in (md5, id) order —
        # exactly kmeans_fit_portable's orderBy('__h', id).limit(k)
        f"""c0 AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS j,
                 list_transform(vq, x -> CAST(x AS DOUBLE)) AS c
          FROM q
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {k})""",
    ]
    for t in range(1, n_iter + 2):
        prev = f"c{t - 1}"
        ctes.append(
            f"""a{t} AS (
              SELECT vec_id, vq, j AS cluster FROM (
                SELECT q.vec_id, q.vq, {prev}.j,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY (-2.0 * {dot_vc} + {sq_c}), {prev}.j) AS rn
                FROM q CROSS JOIN {prev}) WHERE rn = 1)"""
        )
        if t == n_iter + 1:
            break  # final pass only assigns; no further mean
        ctes.append(
            f"""m{t} AS (
              SELECT cluster, i AS pos, SUM(vq[i]) AS s, COUNT(*) AS n
              FROM a{t} CROSS JOIN {rng} t(i)
              GROUP BY cluster, i)"""
        )
        ctes.append(
            # an emptied cluster keeps its previous centroid, matching
            # the fit's `if j in new else centroids[j]`
            f"""c{t} AS (
              SELECT {prev}.j, COALESCE(m.c, {prev}.c) AS c
              FROM {prev} LEFT JOIN (
                SELECT cluster AS j,
                       list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS c
                FROM m{t} GROUP BY cluster) m USING (j))"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM a{n_iter + 1} GROUP BY cluster ORDER BY cluster
    """
    )


@query("e3_kmeans_fit_clusters", _kmeans_fit_sql())
def e3_kmeans_fit_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — full Lloyd's fit (k=4, 3 rounds, hash-order init) then
    per-cluster population counts. STRONG oracle: the portable fit
    quantizes components to integers so per-round means are exact
    bigint sums / counts — both engines derive bit-identical centroids
    and the whole 3-iteration trajectory replays in SQL
    (`_kmeans_fit_sql`). Blob recovery + determinism remain
    pytest-proven for the float-path `kmeans_fit`."""
    from train_reports_etl_spark.extensions.clustering import (
        kmeans_assign,
        kmeans_fit_portable,
        quantize_vectors,
    )
    from train_reports_etl_spark.extensions.store import shared

    emb = load_table(spark, sf_dir, "embeddings")
    # Signature-store the quantized table: the fit's 4 passes AND the
    # final assignment all read it, and it stays warm across runs.
    q = shared(spark, sf_dir, "kmeans_vq", lambda: quantize_vectors(emb))
    cents, q = kmeans_fit_portable(emb, k=4, n_iter=3, quantized=q)
    return (
        kmeans_assign(q, cents, vec_col="vq")
        .groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .orderBy("cluster")
    )


@query(
    "e2_levenshtein_verify",
    _winnow_ctes()
    + f""",
    pairs AS (
      SELECT a.id AS doc_a, b.id AS doc_b
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT p.doc_a, p.doc_b,
           CAST({_duck_lev_cp("da.text", "db.text")} AS INT) AS edit_distance,
           CAST(GREATEST(LENGTH(da.text), LENGTH(db.text)) AS INT) AS max_len,
           1.0 - CAST({_duck_lev_cp("da.text", "db.text")} AS DOUBLE)
                 / GREATEST(LENGTH(da.text), LENGTH(db.text)) AS lev_similarity
    FROM pairs p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    WHERE len(list_distinct(string_split(da.text || db.text, ''))) <= 127
    """,
)
def e2_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — character-level verification of fingerprint candidates:
    exact edit distance over the ~25 winnow-candidate pairs. The
    bucketed candidate stage makes the O(n·m) scalar affordable —
    levenshtein on all pairs would be quadratic twice over. Shows the
    candidates→verify split holding for a non-set similarity too.

    Both sides restrict to pairs whose joint text uses ≤127 distinct
    codepoints (always true for the corpus, and for real prose): the
    oracle's codepoint-aware levenshtein (`_duck_lev_cp` — DuckDB's
    native function counts BYTES) remaps the joint alphabet to
    single-byte chars, which is only possible within that bound.
    Applying the SAME predicate on the Spark side keeps the row sets
    equal by construction instead of silently diverging past it."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _winnow_pairs(spark, sf_dir).select("doc_a", "doc_b")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    joined = pairs.join(da, "doc_a").join(db, "doc_b")
    alpha_ok = (
        F.size(F.array_distinct(F.split(F.concat("text_a", "text_b"), ""))) <= 127
    )
    dist = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return joined.filter(alpha_ok).select(
        "doc_a",
        "doc_b",
        dist.cast("int").alias("edit_distance"),
        max_len.cast("int").alias("max_len"),
        (F.lit(1.0) - dist.cast("double") / max_len).alias("lev_similarity"),
    )


def _weighted_sample_sql(k: int = 50) -> str:
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    u = f"(({hash60_sql('cast(doc_id as string)')}) + 1) / {float((1 << 60) + 1)}"
    return f"""
    WITH w AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             ROUND(ln({u}) / LEN({_SQL_TOKENS}), 9) AS sample_key
      FROM documents
      WHERE LEN({_SQL_TOKENS}) > 0)
    SELECT doc_id, n_tokens
    FROM w ORDER BY sample_key DESC, doc_id LIMIT {k}
    """


@query("e7_weighted_sample", _weighted_sample_sql())
def e7_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — weighted sampling without replacement (A-ES): token-count
    weights, md5-derived uniforms, ln(u)/w keys — longer documents win
    proportionally more often, and the draw replays identically on
    re-runs and backfills. Global top-k is TakeOrderedAndProject."""
    from train_reports_etl_spark.extensions.corpus import weighted_sample
    from train_reports_etl_spark.extensions.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return weighted_sample(docs, weight_col="n_tokens", k=50)


@query(
    "e3_standardized_embeddings",
    """
    WITH ex AS (
      SELECT vec_id, label, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
      FROM (SELECT vec_id, label, embedding,
                   UNNEST(range(0, LEN(embedding))) AS pos
            FROM embeddings)),
    st AS (
      SELECT label, pos,
             list_transform(list(v ORDER BY vec_id), x -> CAST(x AS DOUBLE)) AS vs
      FROM ex GROUP BY label, pos),
    st2 AS (
      SELECT label, pos, CAST(LEN(vs) AS DOUBLE) AS n,
             list_reduce([CAST(0 AS DOUBLE)] || vs, (a, b) -> a + b) AS s,
             list_reduce([CAST(0 AS DOUBLE)] || list_transform(vs, x -> x * x),
                         (a, b) -> a + b) AS sq
      FROM st),
    st3 AS (
      SELECT label, pos, s / n AS mu,
             sqrt(greatest((sq - s * s / n) / n, 0)) AS sg
      FROM st2)
    SELECT e.vec_id, e.label, CAST(e.pos AS INT) AS pos,
           ROUND((e.v - t.mu) / (CASE WHEN t.sg = 0 THEN 1 ELSE t.sg END), 6)
             AS z
    FROM ex e JOIN st3 t ON e.label = t.label AND e.pos = t.pos
    """,
)
def e3_standardized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — per-label embedding standardization (x − μ)/σ, ddof=0, as
    a STRONG-oracle query via the deterministic-fold pattern: per
    (label, dimension) the values are collected in vec_id order and
    Σx / Σx² run as sequential left-folds — the identical IEEE op
    sequence on both engines — then μ, σ and z come from the same
    arithmetic expression, so the float output hash-checks (engine-
    native AVG/STDDEV would not: partition-order accumulation).
    σ=0 dims standardize with σ:=1, matching numpy. This is the
    oracle-checkable twin of `similarity.standardize_embeddings`
    (the applyInPandas Arrow path — the production form whose group
    stats are numpy matrix ops); pytest proves the two agree to
    1e-9. Scale: the fold state is bounded by values-per-(label,dim)
    = group size; for unbounded groups use the Arrow path, whose
    accumulation order is engine-private but statistically identical.
    Output exploded as (vec_id, label, pos, z)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    per = ex.groupBy("label", "pos").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("svs")
    )
    vs = F.transform(F.col("svs"), lambda s: s["v"])
    s = F.aggregate(vs, F.lit(0.0), lambda a, b: a + b)
    sq = F.aggregate(vs, F.lit(0.0), lambda a, b: a + b * b)
    n = F.size("svs").cast("double")
    stats = per.select(
        "label",
        "pos",
        (s / n).alias("mu"),
        F.sqrt(F.greatest((sq - s * s / n) / n, F.lit(0.0))).alias("sg"),
    )
    sg = F.when(F.col("sg") == 0.0, F.lit(1.0)).otherwise(F.col("sg"))
    return ex.join(F.broadcast(stats), ["label", "pos"]).select(
        "vec_id",
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.round((F.col("v") - F.col("mu")) / sg, 6).alias("z"),
    )


@query(
    "e7_chunk_documents",
    f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
      WHERE LEN({_SQL_TOKENS}) > 0),
    s AS (
      SELECT doc_id, toks,
             UNNEST(range(1, GREATEST(LEN(toks) - 16, 1) + 1, 48)) AS start
      FROM toked)
    SELECT doc_id,
           CAST((start - 1) // 48 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_tok,
           CAST(LEN(toks[start:start + 63]) AS INT) AS n_tokens,
           ARRAY_TO_STRING(toks[start:start + 63], ' ') AS chunk_text
    FROM s
    """,
)
def e7_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — intra-document chunking (64-token windows, 16-token
    overlap): packing's counterpart for docs LONGER than the context
    length. Narrow plan — sequence() starts, explode, slice; zero
    shuffles; chunk text re-joined from canonical tokens so both
    engines rebuild identical strings."""
    from train_reports_etl_spark.extensions.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


@query(
    "e5_streaming_session_windows",
    """
    WITH mx AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS wm_ms FROM events),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked),
    agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM sess GROUP BY user_id, session_id)
    SELECT user_id, session_start, session_end, n_events, sum_value_cents
    FROM agg, mx WHERE epoch_ms(session_end) <= wm_ms
    """,
)
def e5_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 streaming — built-in session_window in APPEND mode: only
    sessions the watermark has finalized (end = last event + gap ≤
    max event time − delay) are emitted, exactly once. With the
    sliding-window twin this oracle-checks the watermark-finalization
    protocol across both window families; the gap semantics match the
    batch e5_session_windows oracle, filtered by the emission rule."""
    from train_reports_etl_spark.streaming.windows import streaming_session_sums

    out = streaming_session_sums(_stream_events(spark, sf_dir))
    _run_to_memory_until_flushed(out, "e5_streaming_session_sink")
    return spark.table("e5_streaming_session_sink")


def _bm25_sql(terms=("spark", "window", "fast"), k1=1.2, b=0.75, top_n=20) -> str:
    tf_cols = ", ".join(
        f"CAST(LEN(LIST_FILTER(toks, x -> x = '{w}')) AS BIGINT) AS tf_{i}"
        for i, w in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    parts = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * {k1 + 1.0})"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b} * (dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
        for i in range(len(terms))
    )
    tf_out = ", ".join(f"tf_{i} AS tf_{t}" for i, t in enumerate(terms))
    return f"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    per_doc AS (
      SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl, {tf_cols}
      FROM toked WHERE LEN(toks) > 0),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM per_doc),
    scored AS (
      SELECT doc_id, dl, {', '.join(f'tf_{i}' for i in range(len(terms)))},
             ROUND({parts}, 9) AS score
      FROM per_doc, stats),
    top AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT {top_n})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
           doc_id, dl AS n_tokens, {tf_out}
    FROM top
    """


@query("e4_bm25_search", _bm25_sql())
def e4_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — BM25 ranked retrieval (query: spark, window, fast): one
    doc-keyed conditional agg, a one-row broadcast corpus-stats join,
    TakeOrderedAndProject ranking. avgdl derives from an exact integer
    sum and per-term scores add in fixed column order, so the ranking
    — not just the plumbing — is oracle-checked; the float score
    orders (9 dp, id tie-break) but only integers leave the query."""
    from train_reports_etl_spark.extensions.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, ["spark", "window", "fast"], top_n=20)


# ------------------------------------------------- round 3: corpus ops

_SPAN_W = 20

_SPAN_DEDUP_SQL = f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
      WHERE LEN({_SQL_TOKENS}) > 0),
    s AS (
      SELECT doc_id, toks, UNNEST(range(1, LEN(toks) + 1, {_SPAN_W})) AS start
      FROM toked),
    sp AS (
      SELECT doc_id, CAST((start - 1) // {_SPAN_W} AS INT) AS span_idx,
             ARRAY_TO_STRING(toks[start:start + {_SPAN_W - 1}], ' ') AS span_text
      FROM s),
    k AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
      FROM sp)
    SELECT doc_id,
           STRING_AGG(span_text, ' ' ORDER BY span_idx) AS dedup_text,
           CAST(COUNT(*) AS INT) AS n_spans_kept
    FROM k WHERE rn = 1 GROUP BY doc_id
    """


@query("e1_span_dedup", _SPAN_DEDUP_SQL)
def e1_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — span-level (paragraph-analog) dedup with reassembly: cut
    each doc into 20-token spans, keep the globally-first occurrence
    of each distinct span (order: doc id, span index), rebuild docs
    from surviving spans. The Dolma/RefinedWeb paragraph-dedup shape —
    repeated boilerplate survives only in its first carrier. The
    rebuilt text compares byte-for-byte against the oracle."""
    from train_reports_etl_spark.extensions.corpus import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup(docs, span_tokens=_SPAN_W)


_TEMPERATURE_MIX_SQL = """
    WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    w AS (SELECT source, n_s,
                 CAST(FLOOR(SQRT(n_s) * 1000000.0) AS BIGINT) AS w
          FROM c),
    z AS (SELECT SUM(w) AS z FROM w),
    q AS (SELECT source, CAST(n_s AS BIGINT) AS n_source,
                 CAST(GREATEST(1, (200 * w) // z) AS BIGINT) AS quota
          FROM w, z),
    r AS (SELECT doc_id, source,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS INT) AS sel_rank
          FROM documents)
    SELECT r.doc_id, r.source, r.sel_rank, q.n_source, q.quota
    FROM r JOIN q USING (source) WHERE r.sel_rank <= q.quota
    """


@query("e7_temperature_mix", _TEMPERATURE_MIX_SQL)
def e7_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — temperature-based source mixing (α = 0.5): per-source
    output quotas ∝ sqrt(count) — the standard up-weighting of small
    sources when blending corpora. Quota math is integer-only past the
    exactly-rounded sqrt (BIGINT weights, integer SUM, BIGINT div), so
    the selection is bit-identical across engines; rows are drawn in
    md5-hash order for replayability."""
    from train_reports_etl_spark.extensions.corpus import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(docs, budget=200)


from train_reports_etl_spark.extensions.corpus import bucket_sql  # noqa: E402

_CONTAM_FRAC_SQL = (
    _winnow_ctes()
    + f""",
    b AS (SELECT id, fp, {bucket_sql('id')} AS bucket FROM fps),
    tr AS (SELECT id, fp FROM b WHERE bucket < 205),
    ev AS (SELECT DISTINCT fp AS hit_fp FROM b WHERE bucket >= 230)
    SELECT tr.id AS train_id,
           CAST(COUNT(*) AS INT) AS n_fps,
           CAST(SUM(CASE WHEN ev.hit_fp IS NOT NULL THEN 1 ELSE 0 END) AS INT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN ev.hit_fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS contamination_frac
    FROM tr LEFT JOIN ev ON tr.fp = ev.hit_fp
    GROUP BY tr.id
    """
)


@query("e7_contamination_frac", _CONTAM_FRAC_SQL)
def e7_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — per-document contamination score: the fraction of a train
    doc's distinct winnowed fingerprints that appear anywhere in the
    eval split. `e7_contamination_pairs` names WHICH eval doc matches;
    this is the per-doc number a filtering threshold consumes. The
    fraction is a ratio of integer counts — exact on both engines."""
    from train_reports_etl_spark.extensions.corpus import contamination_fraction

    docs = load_table(spark, sf_dir, "documents")
    return contamination_fraction(
        docs, fingerprints=_shared_winnow_fps(spark, sf_dir)
    )


def _bloom_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import bloom_positions_sql

    build = bloom_positions_sql("CAST(o_custkey AS STRING)")
    probe = bloom_positions_sql("CAST(c_custkey AS STRING)")
    hit = " + ".join(
        f"(CASE WHEN {p} IN (SELECT bit_pos FROM bits) THEN 1 ELSE 0 END)"
        for p in probe
    )
    return f"""
    WITH keys AS (SELECT DISTINCT o_custkey FROM orders),
    bits AS (
      SELECT {build[0]} AS bit_pos FROM keys
      UNION SELECT {build[1]} FROM keys
      UNION SELECT {build[2]} FROM keys),
    h AS (SELECT c_custkey, ({hit}) AS n_hit FROM customer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_actual,
           CAST(SUM(CASE WHEN n_hit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_predicted,
           CAST(SUM(CASE WHEN n_hit = 3 AND k.o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
    FROM h LEFT JOIN keys k ON h.c_custkey = k.o_custkey
    """


@query("e4_bloom_filter", _bloom_sql())
def e4_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — portable Bloom filter (m=2^16 bits, k=3 md5-derived
    hashes): build the bit set from orders' customer keys, probe every
    customer, and reconcile predictions against true membership —
    no false negatives by construction, false positives counted
    explicitly. The bit set is a ≤65,536-row BIGINT table: mergeable
    by UNION, broadcastable for bloom-join pruning, and engine-neutral
    (unlike an opaque bitmap blob). Build shuffles bounded rows
    regardless of input size; probe is one broadcast semi-join."""
    from train_reports_etl_spark.extensions.sketches import bloom_build, bloom_probe

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    members = orders.select("o_custkey").distinct()
    bits = bloom_build(members, "CAST(o_custkey AS STRING)")
    predicted = bloom_probe(
        customer, bits, "CAST(c_custkey AS STRING)", "c_custkey"
    )
    joined = predicted.join(
        members.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "is_member", F.lit(1)
        ),
        "c_custkey",
        "left",
    )
    actual = F.col("is_member").isNotNull()
    # bit-count is part of the plan (one-row cross join), not a driver
    # action — no extra job just to learn a scalar.
    bit_count = bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    return joined.agg(
        F.count("*").cast("long").alias("n_probed"),
        F.sum(actual.cast("int")).cast("long").alias("n_actual"),
        F.sum(F.col("predicted_member").cast("int")).cast("long").alias("n_predicted"),
        F.sum((F.col("predicted_member") & ~actual).cast("int"))
        .cast("long")
        .alias("n_false_pos"),
    ).crossJoin(F.broadcast(bit_count))


def _hll_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import HLL_M, hll_parts_sql

    b, r = hll_parts_sql("CAST(l_orderkey AS STRING)")
    # DuckDB SUM(BIGINT) widens to HUGEINT (float once in pandas) — cast
    # the whole indicator sum back down; it provably fits (≤ 2^61).
    zsum = (
        f"CAST(present_sum + CAST({HLL_M} - n_registers_set AS BIGINT) * "
        "(CAST(1 AS BIGINT) << 53) AS BIGINT)"
    )
    return f"""
    WITH reg AS (
      SELECT {b} AS bucket, MAX({r}) AS rho FROM lineitem GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS INT) AS n_registers_set,
             SUM(CAST(1 AS BIGINT) << (53 - rho)) AS present_sum FROM reg),
    ex AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact FROM lineitem)
    SELECT CAST({HLL_M} AS INT) AS m, n_registers_set,
           {zsum} AS z_sum,
           (0.7213/(1.0 + 1.079/{HLL_M}.0)) * {HLL_M * HLL_M}.0 * {float(1 << 53)!r}
             / CAST({zsum} AS DOUBLE) AS hll_estimate,
           n_exact
    FROM agg, ex
    """


@query("e4_hll_distinct", _hll_sql())
def e4_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — portable HyperLogLog (p=8, m=256): registers are (bucket,
    max rho) rows derived from md5 nibbles with rho = 53 - bitlength —
    integer-only, so Spark and DuckDB build the *same* register table,
    and the indicator sum is an exact BIGINT (`Σ 2^(53-rho)`), making
    the raw-HLL double estimate bit-identical too (no float summation
    order, no ln()). Unlike `approx_count_distinct`'s engine-private
    HLL++ sketch, this register table unions/maxes across shards and
    days — the 100 TB rollup path — and is oracle-checkable. The
    exact distinct count rides along for error inspection."""
    from train_reports_etl_spark.extensions.sketches import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_distinct(li, "CAST(l_orderkey AS STRING)")
    exact = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_exact")
    )
    return est.crossJoin(F.broadcast(exact))


def _quality_gate_sql() -> str:
    from train_reports_etl_spark.extensions.text import STOPWORDS

    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    rules = {
        "r_word_count": "n_words BETWEEN 10 AND 100000",
        "r_mean_word_len": "mean_word_len BETWEEN 2.0 AND 10.0",
        "r_stopwords": "stop_hits >= 2",
        "r_alpha": "alpha_frac >= 0.8",
        "r_repetition": "top_token_frac <= 0.2",
    }
    rule_cols = ", ".join(f"({sql}) AS {name}" for name, sql in rules.items())
    keep = " AND ".join(rules)
    reason = "CASE "
    for name, sql in rules.items():
        reason += f"WHEN NOT ({sql}) THEN '{name}' "
    reason += "ELSE 'ok' END"
    return f"""
    WITH toked AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM documents),
    pt AS (SELECT doc_id, tok, COUNT(*) AS n FROM toked GROUP BY 1, 2),
    da AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(MAX(n) AS BIGINT) AS max_tok_n,
             CAST(SUM(LEN(tok) * n) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN tok IN ({stop}) THEN n ELSE 0 END) AS BIGINT)
               AS stop_hits,
             CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN n ELSE 0 END)
               AS BIGINT) AS alpha_hits
      FROM pt GROUP BY 1),
    base AS (
      SELECT d.doc_id,
             COALESCE(n_words, 0) AS n_words,
             COALESCE(max_tok_n, 0) AS max_tok_n,
             COALESCE(sum_len, 0) AS sum_len,
             COALESCE(stop_hits, 0) AS stop_hits,
             COALESCE(alpha_hits, 0) AS alpha_hits
      FROM documents d LEFT JOIN da USING (doc_id)),
    m AS (
      SELECT doc_id, n_words, stop_hits,
             CASE WHEN n_words > 0
                  THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                  ELSE 0.0 END AS mean_word_len,
             CASE WHEN n_words > 0
                  THEN CAST(alpha_hits AS DOUBLE) / CAST(n_words AS DOUBLE)
                  ELSE 0.0 END AS alpha_frac,
             CASE WHEN n_words > 0
                  THEN CAST(max_tok_n AS DOUBLE) / CAST(n_words AS DOUBLE)
                  ELSE 0.0 END AS top_token_frac
      FROM base)
    SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_frac,
           top_token_frac, {rule_cols}, ({keep}) AS keep, {reason} AS reason
    FROM m
    """


@query("e4_quality_gate", _quality_gate_sql())
def e4_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E7 — Gopher-style hard quality gate: word-count bounds, mean
    word length, stopword floor, alpha-word fraction, top-token
    repetition cap; per-rule booleans + keep + first-failing reason.
    One explode, a (doc, token) partial-agg count, one doc rollup —
    the word-count shuffle shape; every ratio is a single division of
    integer counts, bit-identical to the oracle."""
    from train_reports_etl_spark.extensions.corpus import quality_gate

    docs = load_table(spark, sf_dir, "documents")
    return quality_gate(docs)


_NGRAM_COUNTS_SQL = f"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             UNNEST(CASE WHEN LEN(toks) < 3 THEN []
                    ELSE list_transform(range(1, LEN(toks) - 1),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    END) AS ngram
      FROM toked)
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY 1
    ORDER BY n_occurrences DESC, ngram LIMIT 20
    """


@query("e4_ngram_counts", _NGRAM_COUNTS_SQL)
def e4_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — top-20 corpus trigrams by occurrence count (+ distinct-doc
    spread), full tie-break on gram text so the top-N boundary is
    deterministic. Codegen lead() n-grams, map-side partial count,
    TakeOrderedAndProject top-N — the full gram table never moves."""
    from train_reports_etl_spark.extensions.text import ngram_counts

    docs = load_table(spark, sf_dir, "documents")
    return ngram_counts(docs, n=3, top_n=20)


_FRAME_SAMPLE_SQL = """
    WITH a AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             octet_length(encode(text)) AS n_bytes
      FROM documents),
    s AS (
      SELECT asset_id, media_type,
             UNNEST(range(0, GREATEST(CAST(FLOOR(n_bytes / 1000.0) AS INT), 1)))
               AS sample_idx
      FROM a)
    SELECT asset_id, media_type, CAST(sample_idx AS INT) AS sample_idx,
           CAST(sample_idx * 1000 AS BIGINT) AS byte_offset
    FROM s
    """


@query("e6_frame_sample", _FRAME_SAMPLE_SQL)
def e6_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — frame-sampling plan over multimodal assets: one row per
    sampled byte offset (per-1000-bytes, min one per asset) — the
    seek table a video pipeline hands to the decode stage; decode
    itself is a second mapInPandas over (payload, offset), stubbed in
    this container. The plan is pure column arithmetic + explode
    (no Python), so it IS oracle-checkable even though decode isn't.
    FLOOR is explicit: Spark's int cast truncates, DuckDB's rounds."""
    from train_reports_etl_spark.extensions.multimodal import (
        documents_as_assets,
        frame_sample_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_plan(documents_as_assets(docs), every_n_bytes=1000)


_SALTED_JOIN_SQL = """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """


@query("j6_salted_join", _SALTED_JOIN_SQL)
def j6_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-extension — skew-buster salted join: per-row deterministic
    salt (xxhash64 pmod n, never rand() — task retries must re-salt
    identically) splits hot keys across n shuffle partitions while the
    dim side replicates xn. Result-identical to the plain join — which
    is exactly what the oracle checks. Rollup rounded 2dp (float sum
    order is engine-specific; the join itself adds no float math)."""
    from train_reports_etl_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    j = salted_join(orders, dim, on="o_custkey")
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_price_cents"
            ),
        )
    )


_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 110000.0, 256
_HQ_QS = [0.25, 0.5, 0.9, 0.99]
_HQ_WIDTH_SQL = f"(({_HQ_HI!r} - {_HQ_LO!r}) / {float(_HQ_BINS)!r})"

_HIST_QUANTILES_SQL = f"""
    WITH b AS (
      SELECT l_returnflag,
             LEAST(GREATEST(CAST(FLOOR((l_extendedprice - {_HQ_LO!r})
               / {_HQ_WIDTH_SQL}) AS INT), 0), {_HQ_BINS - 1}) AS bin
      FROM lineitem),
    h AS (SELECT l_returnflag, bin, CAST(COUNT(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2),
    c AS (SELECT l_returnflag, bin, n,
                 CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin)
                   AS BIGINT) AS cum,
                 CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
          FROM h),
    qd AS (SELECT *, UNNEST([{", ".join(f"CAST({q!r} AS DOUBLE)" for q in _HQ_QS)}]) AS q
           FROM c),
    sel AS (SELECT l_returnflag, q, MIN(bin) AS qbin, MAX(total) AS n_rows
            FROM qd
            WHERE CAST(cum AS DOUBLE) >= q * CAST(total AS DOUBLE)
            GROUP BY 1, 2)
    SELECT l_returnflag, q, n_rows,
           {_HQ_LO!r} + CAST(qbin AS DOUBLE) * {_HQ_WIDTH_SQL} AS est_value
    FROM sel
    """


@query("e4_histogram_quantiles", _HIST_QUANTILES_SQL)
def e4_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — quantiles from a mergeable equi-width histogram sketch
    (256 integer bins per group): estimate = lower edge of the first
    bin whose cumulative count reaches q·total. All arithmetic is
    integer counts + exactly-rounded double ops from literals, so even
    the estimates hash-match the oracle — unlike exact `percentile`
    (a9), whose per-group sorted buffers this sketch replaces at scale
    with one bounded-width partial agg; and unlike `approx_percentile`,
    whose KLL sketch is engine-private. Bin counts union+sum across
    shards/days — the rollup path."""
    from train_reports_etl_spark.extensions.sketches import histogram_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, ["l_returnflag"], "l_extendedprice", _HQ_QS, _HQ_LO, _HQ_HI, _HQ_BINS
    )


_BLOOM_PRUNE_SQL = """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_nationkey
    """


@query("j7_bloom_pruned_join", _BLOOM_PRUNE_SQL)
def j7_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-extension — bloom-join pruning end to end: build the Bloom
    bit table from the SELECTIVE dim side (customers with high
    balance), probe the fact side's distinct keys, and only
    possible-members reach the real join — at 100 TB this is how a
    64 KB broadcast filter spares the fact table a full shuffle when
    the dim predicate keeps a sliver of keys. False positives are
    removed by the exact join, so the result — and the oracle — is
    identical to the plain join+filter. Rollup rounded 2dp (float sum
    order)."""
    from train_reports_etl_spark.extensions.sketches import bloom_build, bloom_probe

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", "c_nationkey"
    )
    bits = bloom_build(dim, "CAST(c_custkey AS STRING)")
    keys = orders.select("o_custkey").distinct()
    pred = bloom_probe(keys, bits, "CAST(o_custkey AS STRING)", "o_custkey").filter(
        "predicted_member"
    )
    pruned = orders.join(
        F.broadcast(pred.select("o_custkey")), "o_custkey", "left_semi"
    )
    out = pruned.join(
        F.broadcast(dim.withColumnRenamed("c_custkey", "o_custkey")), "o_custkey"
    )
    return out.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_price_cents"
        ),
    )


_CURRICULUM_SQL = f"""
    WITH t AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS INT) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS INT) AS curriculum_bin
    FROM t
    """


@query("e7_curriculum_bins", _CURRICULUM_SQL)
def e7_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — short→long curriculum binning, NTILE(10) semantics over
    (token count, doc id) with the deterministic tie-break making bin
    edges engine-identical. Spark side avoids the single-partition
    NTILE window: global rank via the bucketed ``distributed_rank``
    plus the exact NTILE closed form — the first ``n mod k`` tiles are
    one row larger and FRONT-LOADED, so the two-branch CASE below is
    required (the tempting one-liner ``((rank-1)·k) div n + 1`` spreads
    the oversized tiles evenly and diverges whenever n mod k > 1; it
    was the bug this form replaced). At 100 TB the same result comes
    cheaper from
    binning against APPROXIMATE length quantiles
    (e4_histogram_quantiles); NTILE is the exactness-checkable form."""
    from train_reports_etl_spark.extensions.text import token_count
    from train_reports_etl_spark.operators.ranking import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", token_count("text").cast("int").alias("n_tokens")
    )
    ranked = distributed_rank(t, "n_tokens", ["n_tokens", "doc_id"], rank_name="__rnk")
    n = ranked.agg(F.count("*").cast("long").alias("__n"))
    # Exact NTILE semantics: the first n mod k tiles are one row larger
    # and FRONT-LOADED (a plain (rank-1)*k div n spreads the oversized
    # tiles evenly and diverges whenever n mod k > 1). greatest(q, 1)
    # keeps the unused else-branch division ANSI-safe when n < k.
    tile = F.expr(
        """CASE WHEN __rnk <= (__n % 10) * (__n div 10 + 1)
                THEN (__rnk - 1) div (__n div 10 + 1) + 1
                ELSE (__n % 10)
                     + (__rnk - (__n % 10) * (__n div 10 + 1) - 1)
                       div greatest(__n div 10, 1) + 1 END"""
    )
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_tokens",
        tile.cast("int").alias("curriculum_bin"),
    )


_CDC_DIV = 16

_CDC_SPAN_DEDUP_SQL = f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
      WHERE LEN({_SQL_TOKENS}) > 0),
    p AS (
      SELECT doc_id, toks, UNNEST(range(1, LEN(toks) + 1)) AS pos FROM toked),
    tk AS (
      SELECT doc_id, pos, toks[pos] AS t FROM p),
    fl AS (
      SELECT doc_id, pos, t,
             CASE WHEN ({_SQL_TOKVAL}) % {_CDC_DIV} = 0 THEN 1 ELSE 0 END AS is_b
      FROM tk),
    ch AS (
      SELECT doc_id, pos, t,
             CAST(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos) AS INT)
               AS span_idx
      FROM fl),
    sp AS (
      SELECT doc_id, span_idx, STRING_AGG(t, ' ' ORDER BY pos) AS span_text
      FROM ch GROUP BY 1, 2),
    k AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx)
               AS rn
      FROM sp)
    SELECT doc_id,
           STRING_AGG(span_text, ' ' ORDER BY span_idx) AS dedup_text,
           CAST(COUNT(*) AS INT) AS n_spans_kept
    FROM k WHERE rn = 1 GROUP BY doc_id
    """


@query("e1_cdc_span_dedup", _CDC_SPAN_DEDUP_SQL)
def e1_cdc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — content-defined-chunking span dedup: boundaries wherever a
    token's portable 16-bit hash ≡ 0 mod 16 (mean span ~16 tokens), so
    insertions shift only their own chunk — the rsync/LBFS boundary
    trick on token streams; fixed-width `e1_span_dedup` loses span
    alignment after any edit. Keep-first + reassembly identical to the
    fixed-width form; rebuilt text compares byte-for-byte."""
    from train_reports_etl_spark.extensions.corpus import cdc_span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return cdc_span_dedup(docs, divisor=_CDC_DIV)


# ---------------------------------------------- E2 asymmetric containment

@query(
    "e2_containment_dup",
    f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, LEN(ws) AS sz, UNNEST(ws) AS tok FROM sets),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.sz AS sz_a, COUNT(*) AS n_inter
      FROM posting a JOIN posting b ON a.tok = b.tok AND a.id != b.id
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b,
           CAST((n_inter * 1000000) // sz_a AS BIGINT) AS containment_ppm
    FROM inter
    WHERE (n_inter * 1000000) // sz_a >= 800000
    """,
)
def e2_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — asymmetric shingle containment ≥ 0.8: catches sub-document
    duplication (quotes, excerpts, supersets) that Jaccard's
    union-normalization hides. Directional pairs, integer-ppm score
    (no float portability surface). Same inverted-index scale shape as
    the Jaccard twin — candidates meet on shared shingles, never
    all-pairs."""
    from train_reports_etl_spark.extensions.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, threshold_ppm=800_000, posting=_shared_shingle_posting(spark, sf_dir)
    )


# ------------------------------------------------- E4 bigram-LM rarity

@query(
    "e4_bigram_rarity",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(LIST_ZIP(toks[1:LEN(toks)-1], toks[2:LEN(toks)])) AS p
      FROM t WHERE LEN(toks) >= 2),
    bg2 AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg),
    cc AS (
      SELECT w1, w2, COUNT(*) AS c FROM bg2 GROUP BY 1, 2),
    j AS (
      SELECT bg2.doc_id, cc.c FROM bg2 JOIN cc USING (w1, w2)),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM j GROUP BY doc_id)
    SELECT doc_id, n_bigrams, n_rare,
           CAST((n_rare * 1000000) // n_bigrams AS BIGINT) AS rare_ppm,
           CASE WHEN (n_rare * 1000000) // n_bigrams >= 600000
                THEN 'flag' ELSE 'keep' END AS verdict
    FROM agg
    """,
)
def e4_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — corpus-as-LM rarity filter: fraction of a doc's bigram
    occurrences that are corpus-rare (count ≤ 2), in integer ppm. The
    distributable core of perplexity filtering — no external model,
    two shuffles (bigram count, score join), codegen bigram extraction
    via posexplode + lead."""
    from train_reports_etl_spark.extensions.corpus import bigram_rarity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_rarity(docs, rare_max_count=2, flag_ppm=600_000)


# ------------------------------------------- E3 int8 scalar quantization

@query(
    "e3_quantized_embeddings",
    """
    WITH ex AS (
      SELECT vec_id,
             GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
             CAST(UNNEST(embedding) AS DOUBLE) AS v,
             CAST(LIST_MIN(embedding) AS DOUBLE) AS lo,
             CAST(LIST_MAX(embedding) AS DOUBLE) AS hi
      FROM embeddings)
    SELECT vec_id, CAST(pos AS INT) AS pos,
           CAST(CASE WHEN hi = lo THEN 0
                ELSE FLOOR((v - lo) * 254.0 / (hi - lo)) - 127 END AS INT) AS q
    FROM ex
    """,
)
def e3_quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — per-vector int8 scalar quantization (FAISS-SQ8 shape): the
    4× storage/bandwidth cut that makes a 100 TB float32 vector store
    tractable. floor() of pure IEEE-double scaling — bit-identical
    across engines, so the whole codebook is strong-checked. Exploded
    integer output (vec_id, pos, q)."""
    return _shared_quantized_codes(spark, sf_dir)


def _shared_quantized_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized int8 codebook (vec_id, pos, q) — shared by the
    codebook dump and the quantized-prefilter cascade, and used TWICE
    within the cascade (query row + full scan). At 100 TB this is the
    int8 sidecar table a vector store maintains next to the float32
    vectors (see extensions/store.py)."""
    from train_reports_etl_spark.extensions.similarity import quantize_embeddings
    from train_reports_etl_spark.extensions.store import shared

    return shared(
        spark,
        sf_dir,
        "int8_codes_255",
        lambda: quantize_embeddings(load_table(spark, sf_dir, "embeddings"), levels=255),
    )



# --------------------------------------------- E6 binary exact dedup

@query(
    "e6_binary_dedup",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
    SELECT md5(text) AS checksum,
           CAST(MIN(doc_id) AS BIGINT) AS keep_asset_id,
           CAST(COUNT(*) AS INT) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                                    ELSE 'video/mp4' END) AS INT) AS n_media_types
    FROM corpus
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def e6_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — exact dedup over opaque binary payloads: group by
    md5(payload), keep the lowest asset id. The multimodal twin of E1
    exact dedup — at 100 TB the shuffle carries 16-byte digests, never
    image/audio bytes (the digest is computed in the scan stage and
    the payload column is pruned before the exchange). The fixture
    corpus is augmented with re-ingested copies (same bytes, new asset
    ids — the classic re-crawl) so there are real duplicate payloads;
    ids shift media_type, so some groups span media types, which exact
    byte dedup must treat as duplicates anyway. Oracle derives the
    same digests from the text the payloads wrap (md5 of a UTF-8
    string == md5 of its bytes)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    assets = documents_as_assets(corpus)
    return (
        assets.groupBy(F.md5("payload").alias("checksum"))
        .agg(
            F.min("asset_id").cast("long").alias("keep_asset_id"),
            F.count("*").cast("int").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.countDistinct("media_type").cast("int").alias("n_media_types"),
        )
        .filter(F.col("n_assets") > 1)
    )


# ------------------------------------------------ E1 URL canonical dedup

# Crawl-variant URL tail: same logical page appears under case, default
# -port, utm-param, fragment and trailing-slash variants depending on
# doc_id, so canonicalization provably collapses re-crawls (raw-URL
# dedup would keep them all). Identical literal tail on both engines.
_URL_TAIL_SQL = (
    "' see ' || CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Site' ELSE 'https://site' END"
    " || CAST(doc_id % 50 AS STRING) ||"
    " CASE WHEN doc_id % 2 = 0 THEN '.Example.ORG' ELSE '.example.org' END ||"
    " CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||"
    " '/page/' || CAST(doc_id % 25 AS STRING) ||"
    " CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||"
    " CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=x'"
    "      WHEN doc_id % 5 = 1 THEN '?id=7&utm_medium=email' ELSE '' END ||"
    " CASE WHEN doc_id % 7 = 0 THEN '#section2' ELSE '' END"
)

_URL_CANON_SQL_STEPS = """
      SELECT doc_id, url,
             lower(regexp_extract(url, '^(?i)(https?)://', 1)) AS scheme,
             lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host,
             regexp_extract(url, '://[^/:?#]+:([0-9]+)', 1) AS port,
             regexp_replace(regexp_extract(url, '://[^/?#]+([^?#]*)', 1), '/$', '') AS path,
             regexp_replace(regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               '(^|&)utm_[^&]*', '', 'g'), '^&', '') AS q
"""


@query(
    "e1_url_canonical_dedup",
    f"""
    WITH aug AS (SELECT doc_id, text || {_URL_TAIL_SQL} AS text FROM documents),
    u AS (
      SELECT doc_id, UNNEST(regexp_extract_all(text, '(?i)https?://[^ ]+')) AS url
      FROM aug),
    parts AS ({_URL_CANON_SQL_STEPS} FROM u),
    canon AS (
      SELECT doc_id, url,
             scheme || '://' || host ||
             CASE WHEN port NOT IN ('', '80', '443') THEN ':' || port ELSE '' END ||
             path ||
             CASE WHEN q != '' THEN '?' || q ELSE '' END AS canonical_url
      FROM parts)
    SELECT canonical_url,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM canon GROUP BY 1
    """,
)
def e1_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — URL canonicalization dedup: collapse case / default-port /
    utm-param / fragment / trailing-slash crawl variants to one
    canonical key, then count how many raw variants and docs each page
    absorbed. The pre-dedup step every crawl corpus runs before
    content dedup; pure regexp rebuild (`text.py:canonical_url`), all
    codegen, byte-compared against the SQL twin. Shuffle key is the
    canonical string — at 100 TB this is the same shape as exact
    dedup: digests/keys move, documents don't."""
    from train_reports_etl_spark.extensions.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.concat(F.col("text"), F.expr(_URL_TAIL_SQL)).alias("text"))
    urls = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("(?i)https?://[^ ]+"), F.lit(0))
        ).alias("url"),
    )
    return (
        urls.withColumn("canonical_url", canonical_url("url"))
        .groupBy("canonical_url")
        .agg(
            F.countDistinct("url").cast("long").alias("n_variants"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
    )


# ------------------------------------------- E5 stream-static enrichment

@query(
    "e5_stream_static_join",
    """
    WITH dim(event_type, category, weight) AS (
      VALUES ('purchase', 'revenue', 5), ('signup', 'revenue', 3),
             ('view', 'engagement', 1), ('click', 'engagement', 1),
             ('error', 'ops', 0)),
    j AS (
      SELECT d.category, d.weight, e.value
      FROM events e JOIN dim d USING (event_type))
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(weight) AS BIGINT) AS total_weight,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM j GROUP BY category
    """,
)
def e5_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — stream-static broadcast enrichment + COMPLETE-mode global
    aggregate: the missing streaming-join shape (stream-stream interval
    joins are covered by ``e5_stream_stream_join``). The static dim is
    broadcast to every micro-batch — no state, no watermark needed for
    the join itself; the unwindowed groupBy runs in complete output
    mode (the only mode that emits a global aggregate mid-stream). At
    scale the dim re-broadcasts per batch, so keep dims small or
    snapshot-join via foreachBatch; the aggregation state is one row
    per category. Oracle: stream-static join semantics are defined to
    match the batch join, so the batch SQL twin is exact."""
    dim = local_frame(
        spark,
        [
            ("purchase", "revenue", 5),
            ("signup", "revenue", 3),
            ("view", "engagement", 1),
            ("click", "engagement", 1),
            ("error", "ops", 0),
        ],
        "event_type string, category string, weight int",
    )
    stream = _stream_events(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "event_type").groupBy("category").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("weight").cast("long").alias("total_weight"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )
    with conf_scope(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            enriched.writeStream.outputMode("complete")
            .format("memory")
            .queryName("e5_stream_static_sink")
            .start()
        )
    q.processAllAvailable()
    q.stop()
    return spark.table("e5_stream_static_sink")


@query("e4_compression_ratio")  # zlib is Python-side only → rows-only check
def e4_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — deflate-ratio repetition filter via an Arrow-batched
    pandas_udf (`text.py:compression_metrics`). No SQL oracle exists
    (DuckDB has no deflate); the pytest twin strong-checks the UDF
    byte counts against direct zlib on the same rows, and the verdict
    logic is pure integer arithmetic."""
    from train_reports_etl_spark.extensions.text import compression_metrics

    docs = load_table(spark, sf_dir, "documents")
    return compression_metrics(docs)


# ------------------------------------------- E2 portable MinHash + LSH

def _minhash_portable_sql(num_perm: int = 32, bands: int = 8, rows_per_band: int = 4) -> str:
    """DuckDB twin of the FULL portable MinHash+LSH pipeline: same
    md5-nibble base hash, same literal Carter-Wegman coefficients, the
    band key rebuilt with ordered STRING_AGG, candidates verified by
    signature agreement — bit-identical end to end."""
    from train_reports_etl_spark.extensions.dedup import minhash_coefficients
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    m = (1 << 31) - 1
    values = ", ".join(f"({p}, {a}, {b})" for p, (a, b) in enumerate(minhash_coefficients(num_perm)))
    return f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, UNNEST(ws) AS sh FROM sets),
    hashed AS (
      SELECT id, {hash60_sql('sh')} % {m} AS h FROM posting),
    perms(p, a, b) AS (VALUES {values}),
    sigs AS (
      SELECT id, p, MIN((a * h + b) % {m}) AS hp
      FROM hashed CROSS JOIN perms GROUP BY 1, 2),
    bandk AS (
      SELECT id, p // {rows_per_band} AS band,
             STRING_AGG(CAST(hp AS VARCHAR), ':' ORDER BY p) AS bh
      FROM sigs GROUP BY 1, 2),
    cands AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM bandk a JOIN bandk b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN sa.hp = sb.hp THEN 1 ELSE 0 END) AS n_match
      FROM cands c
      JOIN sigs sa ON sa.id = c.doc_a
      JOIN sigs sb ON sb.id = c.doc_b AND sb.p = sa.p
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(n_match AS DOUBLE) / {num_perm} AS est_jaccard
    FROM ver WHERE CAST(n_match AS DOUBLE) / {num_perm} >= 0.5
    """


@query("e2_minhash_portable_near_dup", _minhash_portable_sql())
def e2_minhash_portable_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — MinHash(32)+LSH(8×4) with the md5-nibble portable base
    hash: the ENTIRE approximate pipeline — base hash, Carter-Wegman
    permutations, band keys, bucket candidates, signature-agreement
    estimates — is strong-oracle-checked, not just an exact twin on
    the same pair space. The xxhash64 variant
    (``e2_minhash_lsh_near_dup``) stays as the throughput path (one
    cheap JVM hash vs md5 + 15 nibble decodes per shingle); both share
    every downstream stage, so checking this one pins the logic of
    both."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs,
        threshold=0.5,
        portable=True,
        signatures=_shared_portable_minhash_sigs(spark, sf_dir),
    )


def _shared_shingle_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized word-3-gram shingle posting (id, sh, sz) — the
    shared input of exact Jaccard, containment, the recall report and
    MinHash signature construction (see extensions/store.py)."""
    from train_reports_etl_spark.extensions.store import shared
    from train_reports_etl_spark.extensions.text import shingle_posting

    return shared(
        spark,
        sf_dir,
        "shingle_posting_w3",
        lambda: shingle_posting(
            load_table(spark, sf_dir, "documents"), width=3, with_size=True
        ),
    )


def _shared_portable_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized portable (md5-based) MinHash signature table —
    shared by the near-dup pipeline and the LSH recall report (see
    extensions/store.py)."""
    from train_reports_etl_spark.extensions.dedup import minhash_signatures
    from train_reports_etl_spark.extensions.store import shared

    return shared(
        spark,
        sf_dir,
        "minhash_sigs_portable",
        lambda: minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            portable=True,
            posting=_shared_shingle_posting(spark, sf_dir),
        ),
    )


# ------------------------------------------------------------ round 4 adds

@query(
    "e4_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, UNNEST(regexp_extract_all(text, '[\\s\\S]')) AS ch
      FROM documents),
    cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch),
    per_doc AS (
      SELECT doc_id,
             list(c ORDER BY ch) AS cs,
             CAST(SUM(c) AS BIGINT) AS n
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n AS n_chars,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(cs, c -> (CAST(c AS DOUBLE) / n)
                                     * log2(n / CAST(c AS DOUBLE)))),
             (acc, v) -> acc + v), 6) AS entropy_bits
    FROM per_doc
    """,
)
def e4_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — per-document character entropy (bits/char): the classic
    gibberish/boilerplate/low-quality signal. Strong oracle: integer
    char counts fold in character order on BOTH engines, so the float
    accumulation order is data-defined (see text.char_entropy)."""
    from train_reports_etl_spark.extensions.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


@query(
    "e7_interleave_sources",
    """
    WITH s AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                  AS BIGINT) AS seq
      FROM documents)
    SELECT doc_id, source, seq,
           CAST(ROW_NUMBER() OVER (ORDER BY seq, source, doc_id) AS BIGINT)
             AS position
    FROM s
    """,
)
def e7_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — deterministic round-robin interleave of sources into one
    global training order (every source visited once per round). The
    global position rides distributed_rank (range-bucketed, no
    single-partition window); integers end to end → exact oracle."""
    from train_reports_etl_spark.extensions.corpus import interleave_sources

    docs = load_table(spark, sf_dir, "documents")
    return interleave_sources(docs)


@query(
    "e1_keep_best_dedup",
    _clusters_sql().replace(
        "SELECT doc_id, cluster_rep, cluster_size FROM comp JOIN sizes USING (cluster_rep)",
        """,
    best AS (
      SELECT comp.doc_id, comp.cluster_rep, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY comp.cluster_rep
                                ORDER BY d.n_chars DESC, comp.doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY comp.cluster_rep) AS BIGINT)
               AS cluster_size
      FROM comp JOIN documents d USING (doc_id))
    SELECT doc_id AS kept_doc, cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM best WHERE rn = 1
    """,
    ),
)
def e1_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — dedup that keeps the BEST duplicate, not the first: per
    near-dup cluster (winnow fingerprints → connected components), the
    kept document is the longest (n_chars DESC, doc_id tie-break) —
    the real-pipeline policy where a near-dup group's most complete
    copy survives. One keyed window over the cluster assignment; the
    oracle closes the same graph with a recursive CTE and applies the
    same argmax."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _shared_winnow_clusters(spark, sf_dir)
    scored = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("cluster_rep").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("kept_doc"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
        )
    )


def _hll_rollup_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import HLL_M, hll_parts_sql

    b, r = hll_parts_sql("text")
    alpha = f"(0.7213/(1.0 + 1.079/{HLL_M}.0))"
    num = f"{alpha} * {HLL_M * HLL_M}.0 * {float(1 << 53)!r}"
    z = (
        f"CAST(present_sum + CAST({HLL_M} - n_registers_set AS BIGINT) * "
        "(CAST(1 AS BIGINT) << 53) AS BIGINT)"
    )
    est_cols = (
        f"n_registers_set, {z} AS z_sum, {num} / CAST({z} AS DOUBLE) AS hll_estimate"
    )
    return f"""
    WITH r AS (
      SELECT source, {b} AS bucket, MAX({r}) AS rho
      FROM documents GROUP BY 1, 2),
    per AS (
      SELECT source AS scope, CAST(COUNT(*) AS INT) AS n_registers_set,
             SUM(CAST(1 AS BIGINT) << (53 - rho)) AS present_sum
      FROM r GROUP BY 1),
    m AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY 1),
    mm AS (
      SELECT '__merged__' AS scope, CAST(COUNT(*) AS INT) AS n_registers_set,
             SUM(CAST(1 AS BIGINT) << (53 - rho)) AS present_sum
      FROM m),
    d AS (
      SELECT {b} AS bucket, MAX({r}) AS rho FROM documents GROUP BY 1),
    dd AS (
      SELECT '__direct__' AS scope, CAST(COUNT(*) AS INT) AS n_registers_set,
             SUM(CAST(1 AS BIGINT) << (53 - rho)) AS present_sum
      FROM d),
    u AS (SELECT * FROM per UNION ALL SELECT * FROM mm UNION ALL SELECT * FROM dd)
    SELECT scope, {est_cols} FROM u
    """


@query("e4_hll_rollup", _hll_rollup_sql())
def e4_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E13 — sketch ROLLUP, the 100 TB pattern made visible: build
    per-source HLL register tables, then (a) merge them union+max into
    one sketch WITHOUT rescanning the data and (b) sketch the whole
    table directly. The '__merged__' and '__direct__' rows are
    identical by the merge law (max is idempotent/commutative) — the
    oracle checks per-source, merged, and direct estimates all
    bit-for-bit. At scale only (a) exists: daily shards persist their
    ≤256-row register tables and every rollup is an agg over those."""
    from train_reports_etl_spark.extensions.sketches import (
        hll_estimate_from_registers,
        hll_estimate_grouped,
        hll_merge_registers,
        hll_registers,
        hll_registers_by,
    )

    docs = load_table(spark, sf_dir, "documents")
    regs = hll_registers_by(docs, ["source"], "text")
    per_src = hll_estimate_grouped(regs, ["source"]).select(
        F.col("source").alias("scope"), "n_registers_set", "z_sum", "hll_estimate"
    )
    merged = hll_estimate_from_registers(hll_merge_registers(regs)).select(
        F.lit("__merged__").alias("scope"), "n_registers_set", "z_sum", "hll_estimate"
    )
    direct = hll_estimate_from_registers(hll_registers(docs, "text")).select(
        F.lit("__direct__").alias("scope"), "n_registers_set", "z_sum", "hll_estimate"
    )
    return per_src.unionByName(merged).unionByName(direct)


@query(
    "e7_dataset_card",
    f"""
    SELECT COALESCE(source, '__all__') AS source,
           COALESCE(lang, '__all__') AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN({_SQL_TOKENS})) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(LEN({_SQL_TOKENS})) AS DOUBLE) / COUNT(*) AS mean_tokens
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
)
def e7_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — the dataset-card stat block in ONE pass: doc counts, token
    and char totals, and mean tokens per (source × lang), per source,
    per lang, and overall via GROUPING SETS (a single Expand +
    hash-agg — four scans' worth of stats for one shuffle). Ratios are
    exact-integer divisions → bit-stable oracle."""
    docs = load_table(spark, sf_dir, "documents")
    from train_reports_etl_spark.extensions.text import tokens

    n_tok = F.size(tokens(F.col("text"))).cast("long")
    base = docs.select("source", "lang", n_tok.alias("nt"), "n_chars")
    agg = base.groupingSets(
        [[F.col("source"), F.col("lang")], [F.col("source")], [F.col("lang")], []],
        F.col("source"),
        F.col("lang"),
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        (F.sum("nt").cast("double") / F.count("*")).alias("mean_tokens"),
    )
    return agg.select(
        F.coalesce(F.col("source"), F.lit("__all__")).alias("source"),
        F.coalesce(F.col("lang"), F.lit("__all__")).alias("lang"),
        "n_docs",
        "n_tokens",
        "n_chars",
        "mean_tokens",
    )


def _lsh_recall_sql(num_perm: int = 32, rows_per_band: int = 4) -> str:
    from train_reports_etl_spark.extensions.dedup import minhash_coefficients
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    m = (1 << 31) - 1
    values = ", ".join(
        f"({p}, {a}, {b})" for p, (a, b) in enumerate(minhash_coefficients(num_perm))
    )
    return f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    jposting AS (
      SELECT id, LEN(ws) AS sz, UNNEST(ws) AS tok FROM sets),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.sz AS sz_a, b.sz AS sz_b,
             COUNT(*) AS n_inter
      FROM jposting a JOIN jposting b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    exact AS (
      SELECT doc_a, doc_b FROM inter
      WHERE CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter) >= 0.5),
    posting AS (
      SELECT id, UNNEST(ws) AS sh FROM sets),
    hashed AS (
      SELECT id, {hash60_sql('sh')} % {m} AS h FROM posting),
    perms(p, a, b) AS (VALUES {values}),
    sigs AS (
      SELECT id, p, MIN((a * h + b) % {m}) AS hp
      FROM hashed CROSS JOIN perms GROUP BY 1, 2),
    bandk AS (
      SELECT id, p // {rows_per_band} AS band,
             STRING_AGG(CAST(hp AS VARCHAR), ':' ORDER BY p) AS bh
      FROM sigs GROUP BY 1, 2),
    cands AS (
      SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      FROM bandk a JOIN bandk b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
    ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cands),
    hit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM exact e JOIN cands c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
    SELECT n_exact, n_candidates, n_hit,
           CAST(n_hit AS DOUBLE) / NULLIF(n_exact, 0) AS recall,
           CAST(n_hit AS DOUBLE) / NULLIF(n_candidates, 0) AS precision
    FROM ex, ca, hit
    """


@query("e2_lsh_recall_report", _lsh_recall_sql())
def e2_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — pipeline EVALUATION op: recall/precision of the MinHash-LSH
    band-collision candidate set against the exact shingle-Jaccard ≥0.5
    truth, in one query (the number a pipeline owner tunes bands/rows
    against). Both sides reuse the shared shingle posting; counts are
    exact integers, the ratios exact divisions — a strong oracle over
    an approximation's QUALITY, not just its output."""
    from train_reports_etl_spark.extensions.dedup import minhash_lsh_candidates

    exact = _shared_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    sigs = _shared_portable_minhash_sigs(spark, sf_dir)
    cands = minhash_lsh_candidates(sigs, portable=True).select(
        "doc_a", "doc_b", F.lit(1).alias("in_cand")
    )
    # One full-outer join + ONE aggregate: each pair set is computed
    # exactly once (the ex/ca/hit three-branch form re-evaluated both
    # expensive subplans twice — Spark does not CSE across joins).
    merged = exact.join(cands, ["doc_a", "doc_b"], "full_outer")
    counts = merged.agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_cand").cast("long").alias("n_candidates"),
        F.count(F.when(F.col("in_exact").isNotNull() & F.col("in_cand").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    )
    # nullif guards: on a corpus with zero exact pairs / candidates the
    # ratio is NULL on both engines (and never a DIVIDE_BY_ZERO under
    # an ANSI session).
    return counts.select(
        "n_exact",
        "n_candidates",
        "n_hit",
        (F.col("n_hit").cast("double") / F.nullif(F.col("n_exact"), F.lit(0))).alias("recall"),
        (F.col("n_hit").cast("double") / F.nullif(F.col("n_candidates"), F.lit(0))).alias("precision"),
    )


@query(
    "e4_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT UNNEST({_SQL_TOKENS}) AS t FROM documents),
    cnt AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_types FROM cnt),
    top AS (
      SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 64),
    cov AS (SELECT CAST(SUM(c) AS BIGINT) AS n_covered FROM top)
    SELECT n_types, n_total, n_covered,
           CAST(n_covered AS DOUBLE) / n_total AS coverage
    FROM tot, cov
    """,
)
def e4_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — vocabulary-induction coverage: what fraction of all token
    occurrences does a top-64 frequency vocab cover? The number that
    sizes a tokenizer vocabulary. Token counts partial-aggregate
    map-side; top-K is TakeOrderedAndProject (K rows per partition);
    totals are 1-row scalar joins. Integers + one exact division."""
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_types"),
    )
    top = cnt.orderBy(F.desc("c"), F.col("t")).limit(64)
    cov = top.agg(F.sum("c").cast("long").alias("n_covered"))
    return (
        tot.crossJoin(cov).select(
            "n_types",
            "n_total",
            "n_covered",
            (F.col("n_covered").cast("double") / F.col("n_total")).alias("coverage"),
        )
    )


_EPOCH_SHUFFLE_SEED = 7


def _epoch_shuffle_sql(seed: int = _EPOCH_SHUFFLE_SEED) -> str:
    return f"""
    WITH keyed AS (
      SELECT doc_id, md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents)
    SELECT doc_id, k AS shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS position
    FROM keyed
    """


@query("e7_epoch_shuffle", _epoch_shuffle_sql())
def e7_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — per-epoch deterministic reshuffle: training order for epoch
    N is the rank of md5(seed:doc_id) — a seeded permutation that is a
    pure function of (seed, id), so re-runs and partial-failure re-runs
    see the SAME order (never rand()). Global position again rides the
    bucketed distributed_rank — at 100 TB the shuffle key doubles as a
    uniform range-partitioning key, so every bucket is equal-sized by
    construction."""
    from train_reports_etl_spark.operators.ranking import distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{_EPOCH_SHUFFLE_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    # distributed_rank buckets on a numeric column: use the first 15
    # hex chars of the key as the bucket scalar (uniform on [0, 2^60)).
    keyed = keyed.withColumn(
        "__k60", F.conv(F.substring("shuffle_key", 1, 15), 16, 10).cast("bigint")
    )
    ranked = distributed_rank(
        keyed, "__k60", ["__k60", "shuffle_key", "doc_id"], rank_name="position"
    )
    return ranked.select("doc_id", "shuffle_key", "position")


_SQL_QCODES = """
    ex AS (
      SELECT vec_id,
             GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
             CAST(UNNEST(embedding) AS DOUBLE) AS v,
             CAST(LIST_MIN(embedding) AS DOUBLE) AS lo,
             CAST(LIST_MAX(embedding) AS DOUBLE) AS hi
      FROM embeddings),
    qc AS (
      SELECT vec_id, CAST(pos AS INT) AS pos,
             CAST(CASE WHEN hi = lo THEN 0
                  ELSE FLOOR((v - lo) * 254.0 / (hi - lo)) - 127 END AS INT) AS q
      FROM ex)
"""


@query(
    "e3_quantized_prefilter_topk",
    f"""
    WITH {_SQL_QCODES},
    qq AS (SELECT pos, q FROM qc WHERE vec_id = 0),
    isc AS (
      SELECT a.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS iscore
      FROM qc a JOIN qq b USING (pos) GROUP BY 1),
    cand AS (SELECT vec_id, iscore FROM isc ORDER BY iscore DESC, vec_id LIMIT 50),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, c.iscore, ROUND({_SQL_COS_Q}, 6) AS cosine_sim
    FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q
    ORDER BY {_SQL_COS_Q} DESC, e.vec_id
    LIMIT 10
    """,
)
def e3_quantized_prefilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — two-stage retrieval, the production vector-search shape:
    stage 1 scores EVERY vector with the cheap int8 dot product
    (integer arithmetic over the 4×-smaller codebook — exact, no float
    surface) and keeps the top-50; stage 2 reranks only survivors with
    the exact float cosine. At 100 TB stage 1 is the only full scan
    and it reads int8, not float32; stage 2 touches 50 rows. Integer
    prefilter scores + deterministic tie-breaks make the WHOLE cascade
    strong-oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    qcodes = _shared_quantized_codes(spark, sf_dir)
    qq = qcodes.filter(F.col("vec_id") == 0).select("pos", F.col("q").alias("qq"))
    isc = (
        qcodes.join(F.broadcast(qq), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("q") * F.col("qq")).cast("long").alias("iscore"))
    )
    cand = isc.orderBy(F.desc("iscore"), F.col("vec_id")).limit(50)
    qv = _query_vec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(v)) for v in qv])
    reranked = emb.join(F.broadcast(cand), "vec_id").select(
        "vec_id",
        "iscore",
        sim.cosine(F.col("embedding"), qlit).alias("cos"),
    )
    return (
        reranked.orderBy(F.desc("cos"), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "iscore", F.round("cos", 6).alias("cosine_sim"))
    )


@query(
    "dq_key_skew_report",
    """
    WITH cnt AS (
      SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_key_n
      FROM cnt),
    top AS (SELECT key, n FROM cnt ORDER BY n DESC, key LIMIT 10)
    SELECT t.key, t.n,
           CAST(t.n * 1000000 // o.n_rows AS BIGINT) AS share_ppm,
           o.n_rows, o.n_keys,
           CAST(o.max_key_n * o.n_keys AS DOUBLE) / o.n_rows AS skew_factor
    FROM top t, tot o
    """,
)
def dq_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — join-key skew diagnostic, the report you run BEFORE picking
    broadcast/salt/AQE strategies at 100 TB: top-10 heaviest keys with
    row share in integer ppm, plus skew_factor = max_key_share ×
    n_keys (1.0 = perfectly uniform; ≫1 = a salting candidate). One
    map-side partial count per key, a 3-field scalar total, a
    TakeOrderedAndProject top-N — nothing driver-side beyond 10 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = cnt.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_key_n"),
    )
    top = cnt.orderBy(F.desc("n"), F.col("key")).limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "key",
        "n",
        F.expr("n * 1000000 div n_rows").cast("long").alias("share_ppm"),
        "n_rows",
        "n_keys",
        (
            F.col("max_key_n").cast("double") * F.col("n_keys") / F.col("n_rows")
        ).alias("skew_factor"),
    )


@query(
    "e1_duplicate_sentences",
    """
    WITH sent AS (
      SELECT doc_id, TRIM(s) AS s
      FROM (SELECT doc_id, UNNEST(string_split(text, '.')) AS s FROM documents)
      WHERE TRIM(s) <> ''),
    freq AS (
      SELECT s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM sent GROUP BY s),
    per_doc AS (
      SELECT se.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sentences,
             CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated
      FROM sent se JOIN freq f ON se.s = f.s
      GROUP BY se.doc_id)
    SELECT doc_id, n_sentences, n_duplicated,
           CAST(n_duplicated * 1000000 // n_sentences AS BIGINT) AS dup_ppm
    FROM per_doc
    """,
)
def e1_duplicate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — sentence-level boilerplate detection (the C4/RefinedWeb
    line-dedup shape): fraction of a document's sentences that occur
    in MORE THAN ONE document — headers, footers, navigation chrome,
    license blurbs. Finer-grained than doc dedup, coarser than span
    dedup; the dup_ppm is what a cleaning threshold consumes.

    Scale shape: sentences explode narrow; the frequency table groups
    by sentence text (at 100 TB: by md5(sentence) so the shuffle
    carries 16-byte digests — same result, as the digest only names
    the group); the rejoin is sentence-keyed. Integer ppm output."""
    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), "\\.")).alias("s0"),
        )
        .select("doc_id", F.trim(F.col("s0")).alias("s"))
        .filter(F.col("s") != "")
    )
    freq = sent.groupBy("s").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs")
    )
    per_doc = (
        sent.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            F.sum((F.col("n_docs") > 1).cast("long")).cast("long").alias("n_duplicated"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sentences",
        "n_duplicated",
        F.expr("n_duplicated * 1000000 div n_sentences").cast("long").alias("dup_ppm"),
    )


@query(
    "e8_bfs_hops",
    _clusters_sql().replace(
        """reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node),
    comp AS (
      SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY 1),
    sizes AS (
      SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1)
    SELECT doc_id, cluster_rep, cluster_size FROM comp JOIN sizes USING (cluster_rep)""",
        """walk(node, d) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % 100 = 0
      UNION
      SELECT e.v, walk.d + 1
      FROM edges e JOIN walk ON e.u = walk.node
      WHERE walk.d < 10)
    SELECT node, CAST(MIN(d) AS INT) AS hops
    FROM walk GROUP BY node""",
    ),
)
def e8_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — distributed BFS over the near-dup graph: minimum hop count
    from the seed set (doc_id % 100 == 0) within 10 hops — the
    blast-radius / neighborhood query next to whole-graph CC. Frontier
    expansion joins only the frontier's edge boundary per round;
    integer distances make the recursive-CTE oracle exact."""
    from train_reports_etl_spark.extensions.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents")
    edges = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    seeds = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id")
    out = bfs_hops(edges, seeds, max_hops=10)
    return out.select("node", F.col("hops").cast("int").alias("hops"))


@query(
    "e1_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN md5(text || '!') ELSE md5(text) END AS fp
      FROM documents WHERE doc_id % 3 <> 0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
    """,
)
def e1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — corpus snapshot diff, the CDC companion to incremental
    dedup: classify every document as added / removed / changed
    between two snapshots by content fingerprint (unchanged rows are
    filtered out — at 100 TB the diff is small even when the corpus
    is not). One digest-keyed full-outer join; the shuffle carries
    (id, md5) pairs, never bodies. The synthetic 'new' snapshot drops
    doc_id % 3 == 0, keeps odd ids out of 'old', and mutates every
    10th text."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.md5(F.concat(F.col("text"), F.lit("!")))
        )
        .otherwise(F.md5("text"))
        .alias("fp"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    change = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
            change.alias("change"),
        )
        .filter(F.col("change") != "unchanged")
    )


@query(
    "w6_ewma_per_user",
    """
    WITH ordered AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(LEN(vs) AS BIGINT) AS n_events,
           ROUND(list_reduce(vs, (acc, v) -> 0.9 * acc + 0.1 * v), 6) AS ewma
    FROM ordered
    """,
)
def w6_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — exponentially-weighted moving average of event values per
    user (alpha = 0.1): the canonical RECURSIVE float computation that
    no window frame expresses. The deterministic-fold pattern: collect
    the per-key series sorted by (ts, event_id), run the recursion as
    one sequential ``aggregate`` — the float order is data-defined on
    both engines, so even a chained float recursion strong-checks.
    Scale: state is bounded by per-key cardinality (events per user),
    the same bound any per-key sessionization carries — for unbounded
    keys use the streaming sessionizer instead."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs")
    )
    vs = F.transform(F.col("evs"), lambda s: s["value"])
    # seed = first value (list_reduce with no init uses the head);
    # fold the tail with acc*0.9 + v*0.1
    ewma = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1),
        lambda acc, v: acc * 0.9 + v * 0.1,
    )
    return per_user.select(
        "user_id",
        F.size("evs").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


@query(
    "e7_token_budget_cap",
    f"""
    WITH toked AS (
      SELECT doc_id, source, CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             md5('cap:' || CAST(doc_id AS VARCHAR)) AS pick
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY pick, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toked)
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= 800
    """,
)
def e7_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — token-budget-capped sampling: take documents per source in
    seeded-hash order until the source's cumulative token count hits
    the budget (here 800) — "give me N tokens per source", the unit a
    data-mixture spec is written in. Deterministic order (md5 pick
    key), one keyed cumsum window, integer arithmetic throughout."""
    from train_reports_etl_spark.extensions.text import tokens
    from pyspark.sql.window import Window as _W

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))).alias("pick"),
    )
    w = (
        _W.partitionBy("source")
        .orderBy("pick", "doc_id")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum = toked.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
    return cum.filter(F.col("cum_tokens") <= 800).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


# ------------------------------------------------- round-4 batch 2

def _cms_sql() -> str:
    """Oracle for the Count-Min sketch: truth top-20 tokens, the
    d x w sketch, and the min-over-rows point estimates — identical
    md5-nibble integer math on both engines."""
    from train_reports_etl_spark.extensions.sketches import (
        CMS_DEPTH,
        cms_bucket_sql,
    )

    sketch_rows = "\n      UNION ALL\n".join(
        f"      SELECT {d} AS d, {cms_bucket_sql('token', d)} AS bucket,"
        " COUNT(*) AS cnt FROM toks GROUP BY 2"
        for d in range(CMS_DEPTH)
    )
    coord_rows = "\n      UNION ALL\n".join(
        f"      SELECT token, {d} AS d, {cms_bucket_sql('token', d)} AS bucket"
        " FROM truth"
        for d in range(CMS_DEPTH)
    )
    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents),
    truth AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM toks GROUP BY token
      ORDER BY true_count DESC, token LIMIT 20),
    cms AS (
{sketch_rows}),
    coords AS (
{coord_rows}),
    est AS (
      SELECT c.token, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_est
      FROM coords c LEFT JOIN cms s ON c.d = s.d AND c.bucket = s.bucket
      GROUP BY c.token)
    SELECT t.token, t.true_count, e.cms_est,
           CAST(e.cms_est - t.true_count AS BIGINT) AS overestimate
    FROM truth t JOIN est e ON t.token = e.token
    """


@query("e4_cms_heavy_hitters", _cms_sql())
def e4_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35 — Count-Min sketch frequency estimation: build the d x w
    counter table over corpus token occurrences, then point-estimate
    the top-20 true heavy hitters and report the (always >= 0)
    overestimate. Completes the mergeable-sketch trio (Bloom
    membership / HLL cardinality / CMS frequency) with the same scale
    shape: map-side partial counts mean each of the d shuffles
    carries <= width rows per input partition, the realized sketch is
    <= d*width rows regardless of corpus size, and shard sketches
    merge by (d,bucket) SUM without rescanning. The estimate probe
    broadcasts the sketch. Strong oracle: every bucket is md5-nibble
    integer math, reproduced verbatim in DuckDB."""
    from train_reports_etl_spark.extensions.sketches import (
        cms_point_estimates,
        cms_table,
    )
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    # the token explode fuses into the scan — single-row-group guard
    # (round-9 row-group audit: 3.4x)
    docs = repartition_if_coarse(
        load_table(spark, sf_dir, "documents"), min_rows=10_000
    )
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    # truth is reused twice (probe set + final join): localCheckpoint
    # the 20-row result so the corpus tokenize+agg+top-k subtree runs
    # once, not once per use — the bounded-materialization pattern
    # (≤ 20 rows pinned, never the token table)
    truth = (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("true_count"))
        .orderBy(F.desc("true_count"), "token")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    cms = cms_table(toks, "token")
    est = cms_point_estimates(cms, truth.select("token"), "token")
    return truth.join(est, "token").select(
        "token",
        "true_count",
        "cms_est",
        (F.col("cms_est") - F.col("true_count")).cast("bigint").alias("overestimate"),
    )


@query(
    "w7_funnel_stages",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id)
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def w7_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — ordered funnel analysis (view -> click -> purchase): per
    user, the first view, the first click strictly AFTER that view,
    and the first purchase strictly after that click — the ordering
    constraint a flat conditional aggregation cannot express (min
    click overall is not min click after the view). Three keyed
    min-aggregations chained by user_id joins: every shuffle and both
    joins share the user_id key, so the exchange is reused across
    stages (one real repartition at 100 TB, not three), and each
    stage's input shrinks monotonically (only users who reached the
    previous stage are probed)."""
    return funnel_stages(load_table(spark, sf_dir, "events"))


def funnel_stages(
    ev: DataFrame, stages: tuple[str, str, str] = ("view", "click", "purchase")
) -> DataFrame:
    """The funnel plan itself, on any (user_id, ts, event_type) frame —
    split out so pytest pins the ordering semantics on synthetic
    events through the SAME code the registered query runs."""
    s1, s2, s3 = stages
    v = (
        ev.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == s2)
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == s3)
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), F.lit(3))
        .when(F.col("click_ts").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .cast("int")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "view_ts", "click_ts", "purchase_ts", stage.alias("stage"))
    )


@query(
    "w8_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
      FROM events)
    SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS INT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def w8_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — weekly cohort retention: cohort = Monday-truncated week
    of each user's first event; n_users = users of that cohort active
    k weeks later (the classic retention triangle). Two keyed
    aggregations + one user_id join; COUNT(*) over the (user, week)
    DISTINCT is exact because `active` already deduplicates — no
    count-distinct shuffle on top. Both engines truncate weeks to
    Monday, and the offset is pure integer date arithmetic, so the
    triangle strong-checks bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    # cohort_week travels as an ISO string: Spark DATE and DuckDB DATE
    # reach pandas as different dtypes (object date vs datetime64), so
    # the portable output type for a truncated calendar bucket is text.
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


@query(
    "e1_cdc_apply",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
    changes AS (
      SELECT doc_id, text || ' v2' AS text, 1 AS seq, 'U' AS op
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, text || ' v3', 2, 'U' FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, CAST(NULL AS VARCHAR), 3, 'D'
      FROM documents WHERE doc_id % 7 = 3
      UNION ALL
      SELECT doc_id + 1000000, text, 1, 'I'
      FROM documents WHERE doc_id % 11 = 0),
    latest AS (
      SELECT * FROM changes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY seq DESC, op DESC) = 1),
    merged AS (
      SELECT b.doc_id, b.text FROM base b
      LEFT JOIN latest l ON b.doc_id = l.doc_id WHERE l.doc_id IS NULL
      UNION ALL
      SELECT doc_id, text FROM latest WHERE op <> 'D')
    SELECT doc_id, md5(text) AS fp FROM merged
    """,
)
def e1_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 — MERGE INTO / CDC-apply: a keyed I/U/D changelog with
    sequence numbers applied onto a base snapshot via
    ``operators/cdc.py:apply_changelog`` — keep-last change per key
    (one keyed window), untouched base rows via LEFT ANTI join,
    non-delete latest rows upserted (an update for an absent key
    inserts: the WHEN NOT MATCHED arm). The synthetic changelog
    exercises every path: chained updates (seq 1 then 2), deletes,
    brand-new inserts, and updates to keys missing from base. Output
    is (doc_id, md5 fingerprint) so the check covers content without
    hashing bodies — the same digest-not-bytes shuffle rule the dedup
    family uses."""
    from train_reports_etl_spark.operators.cdc import apply_changelog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 2)
    u1 = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    u2 = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v3")).alias("text"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    d3 = docs.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = u1.unionByName(u2).unionByName(d3).unionByName(ins)
    merged = apply_changelog(base, changes, ["doc_id"], "seq", "op")
    return merged.select("doc_id", F.md5("text").alias("fp"))


@query(
    "w9_daily_anomaly",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, day, n,
             CAST(COUNT(n) OVER w AS BIGINT) AS n_prev,
             CAST(SUM(n) OVER w AS BIGINT) AS sum_prev,
             CAST(SUM(n * n) OVER w AS BIGINT) AS sumsq_prev
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT event_type, CAST(day AS VARCHAR) AS day, n,
           CASE WHEN n_prev >= 2
                     AND CAST(sumsq_prev AS DOUBLE)
                         - CAST(sum_prev AS DOUBLE) * sum_prev / n_prev > 0
                THEN (n - CAST(sum_prev AS DOUBLE) / n_prev)
                     / sqrt((CAST(sumsq_prev AS DOUBLE)
                             - CAST(sum_prev AS DOUBLE) * sum_prev / n_prev)
                            / (n_prev - 1))
                ELSE NULL END AS zscore
    FROM stats
    """,
)
def w9_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — trailing-window anomaly score: per (event_type, day)
    count vs the mean/stddev of the PRECEDING 7 days (current day
    excluded — the frame a monitor actually uses). The stddev is
    computed from integer window sums (n, Σx, Σx²) with the identical
    arithmetic expression on both engines — exact BIGINT sums in, the
    same IEEE ops in the same order out — so the float z-score
    strong-checks without rounding, where engine-native STDDEV_SAMP
    (different accumulation algorithms) would not. Scale: one keyed
    shuffle for the daily rollup; the window partitions by event_type
    over day counts — bounded rows per key."""
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = _W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.count("n").over(w).cast("bigint").alias("n_prev"),
        F.sum("n").over(w).cast("bigint").alias("sum_prev"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("bigint").alias("sumsq_prev"),
    )
    mean = F.col("sum_prev").cast("double") / F.col("n_prev")
    ss = (
        F.col("sumsq_prev").cast("double")
        - F.col("sum_prev").cast("double") * F.col("sum_prev") / F.col("n_prev")
    )
    z = (F.col("n") - mean) / F.sqrt(ss / (F.col("n_prev") - 1))
    return stats.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n",
        F.when((F.col("n_prev") >= 2) & (ss > 0), z)
        .otherwise(F.lit(None))
        .alias("zscore"),
    )


@query(
    "e4_quality_percentile_by_source",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS score
      FROM documents)
    SELECT doc_id, source, score,
           percent_rank() OVER (PARTITION BY source ORDER BY score) AS pctl,
           percent_rank() OVER (PARTITION BY source ORDER BY score) >= 0.25
             AS keep
    FROM scored
    """,
)
def e4_quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 — per-source quality-score calibration: a raw score
    (token count here; any classifier score in production) is replaced
    by its percentile WITHIN its source before thresholding — quality
    classifiers are source-biased, and a global cutoff would drop
    whole sources. percent_rank = (rank-1)/(n-1): an exact rational of
    integers, bit-identical across engines including ties. One keyed
    window per source; at 100 TB a skewed giant source uses the
    distributed_rank stitch instead of one partition-window."""
    from pyspark.sql.window import Window as _W

    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("bigint").alias("score")
    )
    w = _W.partitionBy("source").orderBy("score")
    pctl = F.percent_rank().over(w)
    return scored.select(
        "doc_id", "source", "score", pctl.alias("pctl"), (pctl >= 0.25).alias("keep")
    )


@query(
    "e8_degree_distribution",
    _clusters_sql().replace(
        """reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node),
    comp AS (
      SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY 1),
    sizes AS (
      SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1)
    SELECT doc_id, cluster_rep, cluster_size FROM comp JOIN sizes USING (cluster_rep)""",
        """deg AS (
      SELECT u AS node, CAST(COUNT(*) AS INT) AS degree FROM edges GROUP BY u)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1""",
    ),
)
def e8_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 — degree distribution of the near-dup graph: how many
    documents have k near-duplicate neighbors. The shape diagnostic
    that decides dedup policy (a fat tail = boilerplate hubs that
    keep-best must break up; see also e8_bfs_hops blast radius). Two
    integer groupBys over the symmetrized edge list — degree counting
    shuffles (node, 1) pairs, never documents."""
    pairs = _winnow_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count("*").cast("int").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("n_nodes"))


@query(
    "e7_pipeline_end_to_end",
    f"""
    WITH fps AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
             CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             n_chars
      FROM documents),
    deduped AS (
      SELECT * FROM fps
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
    gated AS (
      SELECT * FROM deduped WHERE n_tokens >= 5 AND n_chars <= 20000),
    per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM gated GROUP BY source),
    total AS (SELECT SUM(n_tokens) AS tot FROM per_source)
    SELECT s.source, s.n_docs, s.n_tokens,
           CAST(s.n_tokens * 1000000 // t.tot AS BIGINT) AS token_share_ppm
    FROM per_source s CROSS JOIN total t
    """,
)
def e7_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40 — the corpus-construction pipeline as ONE lazy plan:
    normalize -> exact dedup (keep first per content fingerprint) ->
    quality gate -> per-source token accounting with integer-ppm
    mixture shares. Each stage is an operator proven elsewhere
    (e1_exact_dedup_groups, e7_quality_gate, e7_temperature_mix); this
    query pins their COMPOSITION — Catalyst fuses the whole chain, the
    only shuffles are the fp-window and the source rollup, and the
    final total is a 1-row scalar join (broadcast, not a driver
    collect)."""
    from pyspark.sql.window import Window as _W

    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id",
        "source",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    w = _W.partitionBy("fp").orderBy("doc_id")
    deduped = (
        fps.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    gated = deduped.filter((F.col("n_tokens") >= 5) & (F.col("n_chars") <= 20000))
    per_source = gated.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    total = per_source.agg(F.sum("n_tokens").alias("tot"))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        # integer `div`, never floor(double /): exact at any magnitude,
        # matching the oracle's `//` (floor-of-double drifts past 2^53)
        F.expr("n_tokens * 1000000 div tot").cast("bigint").alias("token_share_ppm"),
    )


@query(
    "e3_hybrid_retrieval",
    f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    cand AS (SELECT rank AS bm25_rank, doc_id FROM ({_bm25_sql()}) bm),
    joined AS (
      SELECT c.bm25_rank, c.doc_id,
             {_SQL_COS_Q} AS raw_cos
      FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN q)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY raw_cos DESC, doc_id) AS INT)
             AS rerank,
           doc_id, CAST(bm25_rank AS INT) AS bm25_rank,
           ROUND(raw_cos, 6) AS cosine_sim
    FROM joined ORDER BY raw_cos DESC, doc_id LIMIT 10
    """,
)
def e3_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41 — two-stage hybrid retrieval, the RAG / contamination-scan
    shape: lexical BM25 selects 20 candidates, dense cosine to the
    query embedding reranks them to a final top-10. Stage 1 is the
    proven bm25_rank plan (doc-keyed agg + 1-row stats broadcast +
    TakeOrderedAndProject); stage 2 joins ONLY the 20 candidates
    against embeddings (broadcast semi-probe — the vector table is
    never brute-forced), so at 100 TB the dense cost is k, not N.
    The rerank window orders 20 rows — bounded, never a whole-table
    window. Cosine is the deterministic list-fold; floats order and
    are rounded on output, ids and ranks are the contract."""
    from train_reports_etl_spark.extensions.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cand = bm25_rank(docs, ["spark", "window", "fast"], top_n=20).select(
        F.col("rank").alias("bm25_rank"), "doc_id"
    )
    joined = emb.join(
        F.broadcast(cand), emb["vec_id"] == cand["doc_id"]
    ).select(
        "doc_id",
        "bm25_rank",
        sim.cosine(F.col("embedding"), F.array(*[F.lit(v) for v in qv])).alias(
            "raw_cos"
        ),
    )
    from pyspark.sql.window import Window as _W

    w = _W.orderBy(F.desc("raw_cos"), "doc_id")
    return (
        joined.orderBy(F.desc("raw_cos"), "doc_id")
        .limit(10)
        .select(
            F.row_number().over(w).cast("int").alias("rerank"),
            "doc_id",
            F.col("bm25_rank").cast("int").alias("bm25_rank"),
            F.round("raw_cos", 6).alias("cosine_sim"),
        )
    )


# 12 h: the synthetic stream is sparse (~2 events/user/day), so a
# web-style 30-min gap degenerates to single-event sessions and the
# overlap join proves nothing; 12 h yields multi-event "activity
# bursts" and a non-trivial (85-pair at sf0.01) overlap result.
_SESSION_GAP_S = 43200


def _session_sql(etype: str) -> str:
    """Sessions (user_id, start, end) for one event type, 12-h gap —
    the gaps-and-islands window chain shared by both engines."""
    return f"""
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(CASE WHEN prev_ts IS NULL
                             OR date_diff('second', prev_ts, ts) > {_SESSION_GAP_S}
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
          SELECT user_id, ts, event_id,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
          FROM events WHERE event_type = '{etype}'))
      GROUP BY user_id, sid
    """


@query(
    "e5_session_overlap_join",
    f"""
    WITH cs AS ({_session_sql("click")}),
    es AS ({_session_sql("error")})
    SELECT c.user_id, c.s_start AS c_start, c.s_end AS c_end,
           e.s_start AS e_start, e.s_end AS e_end
    FROM cs c JOIN es e
      ON c.user_id = e.user_id
     AND c.s_start <= e.s_end AND e.s_start <= c.s_end
    """,
)
def e5_session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 — interval-overlap join between two sessionized streams:
    click sessions x error sessions of the SAME user that overlap in
    time (incident correlation — which activity bursts co-occurred
    with error bursts). Sessionization is the gaps-and-islands chain
    (lag -> boundary flag -> running sum), one keyed window per
    stream; the overlap join is an EQUI-join on user_id with the
    interval predicate as a residual filter — per-user session counts
    are bounded, so no bucket explosion is needed (for unkeyed
    interval joins use operators/temporal.py:range_join_bucketed).
    All comparisons are raw integer timestamps: exact oracle."""
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, sf_dir, "events")

    def sessions(etype: str):
        e = ev.filter(F.col("event_type") == etype)
        wo = _W.partitionBy("user_id").orderBy("ts", "event_id")
        lagged = e.select(
            "user_id", "ts", "event_id", F.lag("ts").over(wo).alias("prev_ts")
        )
        boundary = (
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp(F.col("ts").cast("timestamp"))
                - F.unix_timestamp(F.col("prev_ts").cast("timestamp"))
                > _SESSION_GAP_S
            )
        ).cast("int")
        wrun = (
            _W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(_W.unboundedPreceding, 0)
        )
        sess = lagged.select(
            "user_id", "ts", F.sum(boundary).over(wrun).alias("sid")
        )
        return sess.groupBy("user_id", "sid").agg(
            F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
        )

    cs = sessions("click").select(
        "user_id", F.col("s_start").alias("c_start"), F.col("s_end").alias("c_end")
    )
    es = sessions("error").select(
        F.col("user_id").alias("e_user"),
        F.col("s_start").alias("e_start"),
        F.col("s_end").alias("e_end"),
    )
    return (
        cs.join(es, cs["user_id"] == es["e_user"])
        .filter(
            (F.col("c_start") <= F.col("e_end"))
            & (F.col("e_start") <= F.col("c_end"))
        )
        .select("user_id", "c_start", "c_end", "e_start", "e_end")
    )


@query(
    "w10_sliding_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    contrib AS (
      SELECT ud.user_id,
             CAST(ud.day + TO_DAYS(CAST(offs.o AS INT)) AS DATE) AS wday
      FROM ud CROSS JOIN (SELECT UNNEST(range(0, 7)) AS o) offs),
    counted AS (
      SELECT wday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n7
      FROM contrib GROUP BY wday),
    spine AS (
      SELECT CAST(UNNEST(generate_series(
               (SELECT MIN(day) FROM ud),
               (SELECT MAX(day) FROM ud),
               INTERVAL 1 DAY)) AS DATE) AS day)
    SELECT CAST(s.day AS VARCHAR) AS day,
           COALESCE(c.n7, 0) AS distinct_users_7d
    FROM spine s LEFT JOIN counted c ON s.day = c.wday
    """,
)
def w10_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — sliding-window COUNT DISTINCT (trailing-7-day active
    users per day): the moving-frame aggregate no window function
    expresses, because DISTINCT does not decompose over frames. The
    scalable shape is contribution-explode: each (user, day) pair
    emits the 7 window-days it participates in, then ONE
    groupBy+countDistinct — a fixed 7x fan-out of the deduped
    (user, day) table, never a per-day self-join, never a driver
    loop. (The approximate twin at extreme scale: per-day HLL
    register tables merged union+max across the frame —
    e4_hll_rollup proves that merge law.) Integer counts, exact
    oracle. The output joins a complete min..max day SPINE so quiet
    days report 0, not a hole — a gap in a monitoring series reads
    as 'no data', which is the wrong signal."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("wday"))
    counted = contrib.groupBy("wday").agg(
        F.countDistinct("user_id").cast("bigint").alias("n7")
    )
    rng = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = rng.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    return (
        spine.join(counted, spine["day"] == counted["wday"], "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce(F.col("n7"), F.lit(0)).cast("bigint").alias(
                "distinct_users_7d"
            ),
        )
    )


@query(
    "w11_rolling_median",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3),
    framed AS (
      SELECT event_type, day, n,
             list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day_num
                                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
               AS vs
      FROM daily)
    SELECT event_type, CAST(day AS VARCHAR) AS day, n,
           CASE WHEN LEN(vs) % 2 = 1 THEN CAST(vs[(LEN(vs) + 1) // 2] AS DOUBLE)
                ELSE (CAST(vs[LEN(vs) // 2] AS DOUBLE)
                      + CAST(vs[LEN(vs) // 2 + 1] AS DOUBLE)) / 2 END
             AS median_7d
    FROM framed
    """,
)
def w11_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — rolling MEDIAN of daily event counts (trailing 7
    CALENDAR days, current inclusive): a movable ORDER STATISTIC,
    which no decomposable window aggregate computes — the frame's
    value list is collected per row (bounded: ≤ 7 elements by the
    RANGE frame over integer day numbers, never a whole-partition
    collect), sorted, and the middle element(s) read positionally.
    A RANGE frame, not ROWS: for sparse series a 6-PRECEDING ROWS
    frame would reach back past the calendar window (days with no
    events contribute no row, so the median is over the days that
    HAD events within the 7-day span). Exact integer inputs; the
    even-frame midpoint average is the same two-term IEEE expression
    on both engines. The general-scale alternative for wide frames is
    the mergeable histogram sketch (e4_histogram_quantiles)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day_num"
        ),
    ).agg(F.count("*").cast("bigint").alias("n"))
    return rolling_median_daily(daily)


def rolling_median_daily(daily: DataFrame) -> DataFrame:
    """The rolling-median plan over a (event_type, day, day_num, n)
    frame — split out so pytest can pin the calendar-RANGE semantics
    on sparse synthetic series through the SAME code the registered
    query runs."""
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("event_type").orderBy("day_num").rangeBetween(-6, 0)
    framed = daily.select(
        "event_type",
        "day",
        "n",
        F.array_sort(F.collect_list("n").over(w)).alias("vs"),
    )
    L = F.size("vs")
    odd = F.element_at("vs", ((L + 1) / 2).cast("int")).cast("double")
    even = (
        F.element_at("vs", (L / 2).cast("int")).cast("double")
        + F.element_at("vs", (L / 2 + 1).cast("int")).cast("double")
    ) / 2
    return framed.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n",
        F.when(L % 2 == 1, odd).otherwise(even).alias("median_7d"),
    )


# Canonical per-table row serializations for checksumming, written
# ONCE with a `{S}` placeholder for the string type name (VARCHAR in
# DuckDB, STRING in Spark) so the two dialects can never drift apart.
# Canonicalization rules the fields below follow:
#  - doubles NEVER go through engine double→text (NOT portable: Spark
#    renders 1e7 as '1.0E7', DuckDB as '10000000.0') — fixed-point
#    money/quantity columns scale to integers via CAST(ROUND(x*100));
#  - every field is COALESCEd to a sentinel so a NULL cannot nullify
#    the whole row's hash (a NULL-bearing row would otherwise be
#    invisible to BIT_XOR, hiding corruption in its other columns);
#  - long text enters as its md5, not its bytes.
_CHECKSUM_SPECS: list[tuple[str, list[str]]] = [
    (
        "orders",
        [
            "CAST(o_orderkey AS {S})",
            "o_orderstatus",
            "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS {S})",
        ],
    ),
    (
        "lineitem",
        [
            "CAST(l_orderkey AS {S})",
            "CAST(l_linenumber AS {S})",
            "CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS {S})",
        ],
    ),
    ("documents", ["CAST(doc_id AS {S})", "md5(text)"]),
]


def _checksum_row_expr(fields: list[str], s_type: str) -> str:
    parts = [
        f"COALESCE({f.format(S=s_type)}, '<NULL>')" for f in fields
    ]
    return " || '|' || ".join(parts)


def _checksum_sql() -> str:
    """Oracle twin rendered from the SAME specs as the Spark side —
    60-bit md5 decode (`hash60_sql`) + BIT_XOR fold."""
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{table}' AS table_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(BIT_XOR({hash60_sql(_checksum_row_expr(fields, "VARCHAR"))}), 0) AS BIGINT) AS checksum
      FROM {table}"""
        for table, fields in _CHECKSUM_SPECS
    )
    return f"WITH x AS (\n{rows})\n    SELECT * FROM x"


@query("dq_table_checksums", _checksum_sql())
def dq_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 — order/partition-independent table checksums: per table,
    (row count, BIT_XOR of a 60-bit md5 row hash over a canonical
    column serialization). XOR is commutative, associative and
    cannot overflow, so the checksum is identical regardless of
    partitioning, parallelism, or row order — the cheap cross-system
    migration/consistency check (this engine vs any other, today's
    load vs yesterday's), computed in one scan per table with a
    1-row result. The same probe pattern the CC fixed-point check
    uses internally, exposed as a user-facing DQ operator.

    Both dialects render from ONE spec table (`_CHECKSUM_SPECS`),
    which also enforces the two portability rules: doubles are
    canonicalized to scaled integers (engine double→text rendering
    differs outside ~[1e-3, 1e7)), and every field COALESCEs to a
    sentinel so NULLs can't hide a row from the XOR.

    Spark side hashes via ``hash60`` (conv-based, bit-equal to the
    oracle's instr chain): the instr-chain SQL text inlines
    ``md5(row)`` into each of its 15 nibble terms and Spark does not
    CSE them inside the aggregate — 15 md5+concat evaluations per row,
    measured 5.2 s → 0.5 s on the sf0.1 lineitem scan. Each scan runs
    under ``repartition_if_coarse`` (r10): the per-row md5+concat is
    the expression-heavy fused-scan class the row-group guard exists
    for — a single-row-group 600k-row lineitem otherwise hashes on one
    core (measured 2.1 → 1.3 s for the 3-table union at sf0.1)."""
    from train_reports_etl_spark.extensions.sketches import hash60
    from train_reports_etl_spark.util import repartition_if_coarse

    out = None
    for table, fields in _CHECKSUM_SPECS:
        h = hash60(_checksum_row_expr(fields, "STRING"))
        part = repartition_if_coarse(
            load_table(spark, sf_dir, table), min_rows=10_000
        ).agg(
            F.lit(table).alias("table_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.coalesce(F.bit_xor(h), F.lit(0)).cast("bigint").alias("checksum"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "a13_unpivot_measures",
    """
    WITH long AS (
      SELECT l_returnflag, measure, val FROM (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem))
    SELECT l_returnflag, measure,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(val * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM long GROUP BY 1, 2
    """,
)
def a13_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — UNPIVOT (wide → long), the inverse of a10's pivot: the
    four lineitem measures melt into (measure, value) rows, then a
    keyed rollup per (returnflag, measure). Spark side uses the
    native ``unpivot`` (Expand node: one scan emits all four rows per
    input row — NOT four unioned scans, which is what the oracle SQL
    writes because DuckDB's UNPIVOT aliases differ). Sum rounded 2dp:
    order-sensitive float aggregate, same policy as a4."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure_raw",
        "val",
    ).select(
        "l_returnflag",
        F.expr(
            "CASE measure_raw WHEN 'l_quantity' THEN 'quantity'"
            " WHEN 'l_extendedprice' THEN 'extendedprice'"
            " WHEN 'l_discount' THEN 'discount' ELSE 'tax' END"
        ).alias("measure"),
        "val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("val") * 100).cast("long")).alias("total_cents"),
    )


# ---------------------------------------------------------- round 5

_SUBSTR_W = 20

_SUBSTR_SQL = f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
wins AS (
  SELECT doc_id, CAST(u.start AS BIGINT) AS start,
         md5(array_to_string(list_slice(toks, u.start, u.start + {_SUBSTR_W} - 1), ' ')) AS wkey
  FROM toked, UNNEST(range(1, len(toks) - {_SUBSTR_W} + 2)) AS u(start)
  WHERE len(toks) >= {_SUBSTR_W}),
dup_keys AS (
  SELECT wkey FROM wins GROUP BY wkey HAVING COUNT(*) > 1),
dup_wins AS (
  SELECT w.doc_id, w.start, w.start + {_SUBSTR_W} - 1 AS fin
  FROM wins w JOIN dup_keys d ON w.wkey = d.wkey),
islands AS (
  SELECT doc_id, start, fin,
         CASE WHEN start > COALESCE(MAX(fin) OVER (
                PARTITION BY doc_id ORDER BY start, fin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_wins),
numbered AS (
  SELECT doc_id, start, fin,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start, fin
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM islands),
per_island AS (
  SELECT doc_id, island, MAX(fin) - MIN(start) + 1 AS covered
  FROM numbered GROUP BY doc_id, island),
per_doc AS (
  SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
  FROM per_island GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, p.dup_tokens,
       CAST(p.dup_tokens * 1000000 // len(t.toks) AS BIGINT) AS dup_ppm
FROM per_doc p JOIN toked t USING (doc_id)
"""


@query("e1_substring_dup_spans", _SUBSTR_SQL)
def e1_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — sliding-window exact substring duplication (Lee et al.
    2022): every 20-token window (stride 1) is md5-hashed; windows
    occurring >1 time anywhere mark their [start, end] token span
    duplicated; per-doc coverage is the exact interval union
    (gaps-and-islands merge), reported as integer ppm.

    The distributed stand-in for the paper's suffix array: exact for
    fixed window width, digest-keyed shuffles only (never window
    text). See corpus.substring_dup_stats for the 100 TB shape."""
    from train_reports_etl_spark.extensions.corpus import substring_dup_stats

    docs = load_table(spark, sf_dir, "documents")
    return substring_dup_stats(docs, window_tokens=_SUBSTR_W)


def _semdedup_sql(n_cents: int = 16, tau: float = 0.35) -> str:
    """Strong oracle for SemDeDup: centroid assignment (argmin of
    −2·v·c + |c|² over the n lowest-id DATA vectors, (d, cid)
    tie-break) and the within-cluster smaller-id-neighbor drop rule,
    re-expressed over the same table."""
    dot_vc = """
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, len(v.embedding) + 1),
        i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
      (acc, x) -> acc + x)
    """
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT {n_cents}),
    dist AS (
      SELECT v.vec_id, c.cid,
             -2.0 * {dot_vc}
             + list_sum(list_transform(c.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS d
      FROM embeddings v, cents c),
    assigned AS (
      SELECT vec_id, cid AS cluster
      FROM (SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dist)
      WHERE rn = 1),
    av AS (SELECT a.vec_id, a.cluster, e.embedding
           FROM assigned a JOIN embeddings e USING (vec_id)),
    p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b, {_SQL_COS} AS cos
          FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
    SELECT id_b AS vec_id, cluster,
           CAST(MIN(id_a) AS BIGINT) AS kept_by,
           ROUND(MAX(cos), 6) AS max_cos
    FROM p WHERE cos >= {tau}
    GROUP BY id_b, cluster
    """


@query("e3_semdedup", _semdedup_sql())
def e3_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — SemDeDup (Abbas et al. 2023): embeddings cluster to a
    fixed quantizer (the 16 lowest-id vectors as centroids — the
    trained-artifact shape), then within each cluster any vector with
    a smaller-id neighbor at cosine ≥ 0.35 is dropped. Output = the
    dropped set with its dominating keeper. Every stage — assignment
    argmin, pair space, cosine fold — is deterministic, so the whole
    semantic-dedup pipeline is STRONG-oracle-checked; the pair join
    shuffles by cluster (quadratic only within a cell, the IVF
    bound)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.semdedup(emb, n_centroids=16, threshold=0.35)


@bench_query("e3_semdedup_matmul")  # Arrow-matmul assignment: bench-only
def e3_semdedup_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — the semdedup SCALE path: assignment as one numpy V·Cᵀ per
    Arrow batch instead of per-(vector, centroid) fold dots. numpy's
    pairwise summation has no portable oracle (last-ulp vs the
    sequential fold), so the correctness gate covers this pipeline
    through the fold twin ``e3_semdedup`` plus the path-equality pin
    (``tests/test_round7_ops.py::test_semdedup_assign_paths_identical``,
    incl. a forced exact-duplicate centroid); this variant stays in
    bench.py so the throughput path's timing is tracked per round.
    At x30/k=245 it measured 12.2 s vs the fold's 186 s (SCALING.md
    round-7 x30 section)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.semdedup(emb, n_centroids=16, threshold=0.35, assign="matmul")


def _classifier_sql(n_buckets: int = 64, seed: int = 13) -> str:
    from train_reports_etl_spark.extensions.text import hashed_bow_weights

    weights, bias = hashed_bow_weights(n_buckets, seed)
    warr = "[" + ", ".join(f"CAST({w} AS BIGINT)" for w in weights) + "]"
    nib = (
        lambda i: f"(instr('0123456789abcdef', substring(md5(t), {i}, 1)) - 1)"
    )
    bucket = f"(({nib(1)} * 16 + {nib(2)}) % {n_buckets})"
    return f"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, toks,
             CAST({bias}
               + COALESCE(list_sum(list_transform(toks,
                   t -> ({warr})[{bucket} + 1])), 0) AS BIGINT) AS score_ppm
      FROM toked)
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           score_ppm, score_ppm > 0 AS keep
    FROM scored
    """


@query("e4_quality_classifier", _classifier_sql())
def e4_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — hashed bag-of-words linear classifier inference (the
    fastText/CCNet quality-model scoring pass): tokens hash to 64
    feature buckets via md5 nibbles (the portable hashing trick), the
    doc score is bias + Σ weight[bucket] in integer ppm — pure BIGINT,
    order-free, exact. The whole pass is narrow (transform + aggregate
    over the token array, literal weight table broadcast by value):
    zero shuffle, zero UDF — a map-only stage at any scale."""
    from train_reports_etl_spark.extensions.text import linear_quality_score

    docs = load_table(spark, sf_dir, "documents")
    return linear_quality_score(docs)


def _shared_phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (asset_id, phash) pHash signature table over the
    documents-as-assets corpus plus its single-byte-corrupted twins —
    the simhash60 treatment (r11, VERDICT r10 #4) for the suite's
    slowest non-streaming row: the numpy-DCT ``mapInPandas`` pass over
    every payload is the write-once signature table a media pipeline
    stores next to the corpus; the Hamming join consumes 8-byte hashes
    from the cache instead of re-decoding payloads per call."""
    from train_reports_etl_spark.extensions.multimodal import (
        documents_as_assets,
        phash_table,
    )
    from train_reports_etl_spark.extensions.store import shared

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        assets = documents_as_assets(docs)
        twins = assets.filter(F.col("asset_id") % 10 == 0).select(
            (F.col("asset_id") + 1000000).alias("asset_id"),
            "media_type",
            F.overlay(
                F.col("payload"),
                F.lit(bytes([0])),
                F.greatest(F.lit(1), F.least(F.lit(10), F.col("n_bytes"))),
            ).alias("payload"),
            "n_bytes",
        )
        return phash_table(assets.unionByName(twins))

    return shared(spark, sf_dir, "phash64", build)


@query("e6_phash_near_dup")  # DCT not SQL-expressible → rows-only check
def e6_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — perceptual-hash near-dup over multimodal payloads: decode
    (stub) → 32×32 raster → 2-D DCT → 64-bit median-threshold pHash →
    pigeonhole chunk buckets (8×8 bits, lossless for Hamming ≤ 7) →
    exact popcount verify. The multimodal analogue of SimHash dedup:
    re-encoded/slightly-edited media collide, shuffles carry 8-byte
    hashes never payloads.

    Corpus: documents-as-assets plus a single-byte-corrupted twin of
    every 10th asset (the 'same image, different encoder noise'
    case). No SQL oracle — the DCT runs in numpy; the pipeline is
    strong-pinned by pytest instead (identical payload ⇒ distance 0,
    byte-level perturbation ⇒ small distance, unrelated ⇒ absent).
    The pHash signature table comes from the store (r11 — see
    :func:`_shared_phash_table`); the candidate+verify stage is the
    d=7 MIH scheme ``phash_near_duplicates`` resolves to (the same
    ``resolve_hamming_scheme("auto")`` path, passed explicitly here
    since the hash table arrives prebuilt)."""
    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64

    return hamming_pairs_64(
        _shared_phash_table(spark, sf_dir),
        id_col="asset_id",
        hash_col="phash",
        max_hamming=7,
        scheme="auto",
    ).orderBy("id_a", "id_b")


@query(
    "a14_mode_per_group",
    """
    WITH counts AS (
      SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    ranked AS (
      SELECT o_orderpriority, o_orderstatus, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY n DESC, o_orderstatus) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS INT) AS n_values
      FROM counts)
    SELECT o_orderpriority, o_orderstatus AS mode_status, n AS mode_count, n_values
    FROM ranked WHERE rn = 1
    """,
)
def a14_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — exact MODE per group (most frequent order status per
    priority, ties broken by value): the aggregate SQL lacks a
    portable built-in for. Two-level shape: count per (group, value)
    with map-side partials, then a per-group top-1 window — state per
    group is the distinct-value set, never the rows; rank ≤ 1 lets the
    window group-limit push the top-1 into the sort."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("n"), "o_orderstatus")
    wc = Window.partitionBy("o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("n_values", F.count("*").over(wc).cast("int"))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("mode_count"),
            "n_values",
        )
    )


@query(
    "w12_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
             AS share_ppm
    FROM pairs
    """,
)
def w12_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 — first-order event-transition matrix (the Markov-chain /
    clickstream diagnostic): per user, each event's successor in
    (ts, event_id) order; counts per (from, to) plus the integer-ppm
    row-share. ONE keyed window (lead over user) feeds a 25-row
    aggregate — at scale the user partitioning bounds window state and
    the transition matrix is |event_types|², always tiny."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    share = Window.partitionBy("from_type")
    return (
        pairs.withColumn("sum_n", F.sum("n").over(share))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 div sum_n").alias("share_ppm"),
        )
    )


@query(
    "e4_collocations",
    """
    WITH toked AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    uni AS (
      SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toked, UNNEST(toks) AS t(tok) GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
    big AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM toked, UNNEST(range(1, len(toks))) AS u(i)
      GROUP BY 1, 2 HAVING COUNT(*) >= 5)
    SELECT b.w1, b.w2, b.c_ab,
           CAST(b.c_ab * n.n_tokens * 1000000 // (u1.c * u2.c) AS BIGINT)
             AS lift_ppm
    FROM big b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok, n
    ORDER BY lift_ppm DESC, w1, w2 LIMIT 20
    """,
)
def e4_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — PMI-style collocation mining ("new york" detection, the
    phrase-vocabulary input of tokenizer training): top-20 bigrams by
    LIFT = P(ab)/(P(a)P(b)), min support 5. Lift is computed as the
    integer ``c_ab·N·10⁶ div (c_a·c_b)`` — the MONOTONE transform of
    PMI (log of the same ratio) that stays in exact BIGINT arithmetic,
    so the ranking is identical and the whole query hash-checks (a
    float log would differ cross-engine in the last ulp).

    Scale shape: one tokenize+explode feeds BOTH count tables (bigrams
    via a per-doc lead window, unigrams via groupBy with map-side
    partials); N joins as a 1-row broadcast scalar; top-20 is
    TakeOrderedAndProject. Support-5 prunes the bigram tail before the
    unigram joins."""
    docs = load_table(spark, sf_dir, "documents")
    from train_reports_etl_spark.extensions.text import tokens

    # toked feeds BOTH count tables and uni feeds three branches
    # (N scalar, c1 join, c2 join) — Spark does not CSE across joins,
    # so without materialization the tokenize+explode would run five
    # times. Same lifecycle as minhash_near_duplicates: the top-20
    # result is eagerly checkpointed so the caches release on return.
    toked = docs.repartition("doc_id").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    ).persist()
    uni = toked.groupBy("tok").agg(F.count("*").cast("bigint").alias("c")).persist()
    n = uni.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toked.select(
            F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    joined = (
        big.join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n))
    )
    out = (
        joined.select(
            "w1",
            "w2",
            "c_ab",
            F.expr("c_ab * n_tokens * 1000000 div (c1 * c2)").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    toked.unpersist()
    uni.unpersist()
    return out


@query("e4_bpe_token_counts")  # greedy merge loop: not SQL-expressible → rows-only
def e4_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — TRUE BPE token accounting under a fixed merge table (the
    regex token_count is the cheap approximation; this is the real
    tokenizer arithmetic a data-mixture budget is written in).
    Vocabulary-memoized: the merge loop runs once per DISTINCT word,
    per-doc counts are an integer join+sum — at 100 TB the Python
    stage sees the vocabulary (~10⁷), never the corpus. Rows-only
    driver check (iterative greedy merges have no SQL twin); pytest
    pins the encoder against an independent reference implementation
    and the memoized counts against direct whole-corpus encoding."""
    from train_reports_etl_spark.extensions.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts(docs)


from train_reports_etl_spark.extensions.text import bpe_round0_digrams as _bpe_r0

_BPE_ROUND0_RE = "|".join(_bpe_r0())


@query(
    "e4_bpe_downstream_join",
    f"""
    WITH occ AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM (SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok),
    enc AS (
      SELECT tok,
             CAST(length(regexp_replace(tok, '{_BPE_ROUND0_RE}', 'x', 'g'))
               AS INT) AS n_pieces
      FROM (SELECT DISTINCT tok FROM occ))
    SELECT doc_id,
           CAST(SUM(n_occ) AS BIGINT) AS n_words,
           CAST(SUM(n_occ * n_pieces) AS BIGINT) AS n_bpe_tokens
    FROM occ JOIN enc USING (tok)
    GROUP BY doc_id
    """,
)
def e4_bpe_downstream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — strong-oracle coverage for everything DOWNSTREAM of the
    BPE merge loop (the phash→hamming decomposition applied to the
    tokenizer): runs the exact ``token_counts_from_piece_table`` code
    path of ``e4_bpe_token_counts`` (tokenize → per-doc term
    frequencies → vocabulary join → n_occ-weighted sums), but on a
    SQL-DERIVABLE piece table — one greedy left-to-right pass of the
    merge table's rank-0..9 single-character digrams
    (``text.bpe_round0_digrams``, shared by both twins so they cannot
    drift), each collapsed to one char so
    ``n_pieces = length(regexp_replace(tok, r0, 'x'))``. The stand-in
    is deliberately NOT rank-priority BPE — the merge loop itself
    stays rows-only by nature — but the join/weighting arithmetic it
    value-hash-checks is byte-identical code with the real encoder.
    Leaves only zlib compression and the merge loop itself as
    ``no_oracle`` rows."""
    from train_reports_etl_spark.extensions.text import (
        token_counts_from_piece_table,
        word_occurrences,
    )

    docs = load_table(spark, sf_dir, "documents")
    # vocab from the SAME occ aggregate the downstream consumes — the
    # identical subtrees share one tokenize scan via exchange reuse
    # (vocab straight from docs would regex-explode the corpus twice)
    occ = word_occurrences(docs)
    encoded = occ.select("tok").distinct().select(
        "tok",
        F.length(F.regexp_replace("tok", _BPE_ROUND0_RE, "x"))
        .cast("int")
        .alias("n_pieces"),
    )
    return token_counts_from_piece_table(docs, encoded, occ=occ)


@query(
    "e7_leakage_safe_split",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents),
    assigned AS (
      SELECT doc_id, fp,
             CASE WHEN b < 205 THEN 'train'
                  WHEN b < 230 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id, fp,
                   (instr('0123456789abcdef', substring(md5(fp), 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substring(md5(fp), 2, 1)) - 1) AS b
            FROM fp)),
    straddle AS (
      SELECT fp FROM assigned GROUP BY fp HAVING COUNT(DISTINCT split) > 1)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
           CAST((SELECT COUNT(*) FROM straddle) AS BIGINT) AS n_straddling_groups
    FROM assigned GROUP BY split
    """,
)
def e7_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — leakage-safe train/val/test split: the split key is the
    CONTENT fingerprint, not the document id, so byte-level duplicates
    (and anything sharing a normalized text) land in the SAME split by
    construction — the eval-contamination failure mode id-keyed splits
    have. Output includes the PROOF: the count of fingerprint groups
    straddling splits, which must be 0. Pure narrow expression per row
    (md5 of md5) + one fp-keyed agg; same 205/230-of-256 bucket split
    as e7_split_assign."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).alias("fp"),
    )
    from train_reports_etl_spark.extensions.corpus import bucket_sql

    assigned = fp.withColumn("b", F.expr(bucket_sql("fp"))).withColumn(
        "split",
        F.when(F.col("b") < 205, "train")
        .when(F.col("b") < 230, "val")
        .otherwise("test"),
    )
    straddle = (
        assigned.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("bigint").alias("n_straddling_groups"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(straddle))
        .select("split", "n_docs", "n_groups", "n_straddling_groups")
    )


@query(
    "dq_column_profile",
    """
    SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
      SELECT 'o_orderstatus' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS min_val,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
             CAST(MIN(o_orderpriority) AS VARCHAR),
             CAST(MAX(o_orderpriority) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
             CAST(MIN(o_custkey) AS VARCHAR),
             CAST(MAX(o_custkey) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
             strftime(MIN(o_orderdate), '%Y-%m-%d'),
             strftime(MAX(o_orderdate), '%Y-%m-%d')
      FROM orders)
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — one-pass column profiling (the ingest-time data-profile
    block: null rate, exact distinct, min/max per column), emitted
    long-form (col_name, metrics…). The Spark plan computes ALL
    columns' aggregates in ONE scan + one aggregate node (the oracle
    SQL spells it as UNION ALL per column because DuckDB re-reads its
    view; the Spark side must not) — then explodes the single stat row
    into long form with a 4-element inline array. Dates render as ISO
    strings (the portable form; see the verify notes on engine
    double/date rendering)."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]
    # r11 (VERDICT r10 #8): FOUR countDistinct's in one aggregate made
    # Catalyst plan grouping sets — an Expand multiplying every row 5×
    # followed by SortAggregates keyed on all four column VALUES plus
    # gid (a 750k-row sort and a near-row-cardinality exchange at
    # sf0.1; at 100 TB the sort+exchange scale with the table). Split
    # exactly: (a) the non-distinct profile block stays ONE plain
    # hash aggregate (no Expand — min/max must read native types, a
    # lexicographic min over stringified custkeys would be wrong);
    # (b) the four exact distinct counts run as a single posexploded
    # (col_idx, value-as-string) stream through a two-level hash
    # aggregate — partial map-side distinct, then count per column.
    # Casts are injective per column (long/timestamp→string is 1:1),
    # so each count equals COUNT(DISTINCT native) exactly.
    stats = orders.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            x
            for c in ("o_orderstatus", "o_orderpriority", "o_custkey")
            for x in (
                (F.count("*") - F.count(c)).cast("bigint").alias(f"nn_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            )
        ],
        (F.count("*") - F.count("o_orderdate")).cast("bigint").alias("nn_o_orderdate"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("mn_o_orderdate"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("mx_o_orderdate"),
    )
    exploded = orders.select(
        F.posexplode(
            F.array(*[F.col(c).cast("string") for c in cols])
        ).alias("cidx", "val")
    )
    nd = exploded.groupBy("cidx").agg(
        F.countDistinct("val").cast("bigint").alias("nd")
    )
    ndrow = nd.agg(
        *[
            F.max(F.when(F.col("cidx") == i, F.col("nd")))
            .cast("bigint")
            .alias(f"nd_{c}")
            for i, c in enumerate(cols)
        ]
    )
    stats = stats.crossJoin(F.broadcast(ndrow))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return stats.select("n_rows", F.explode(rows).alias("r")).select(
        F.col("r.col_name"),
        "n_rows",
        F.col("r.n_nulls"),
        F.col("r.n_distinct"),
        F.col("r.min_val"),
        F.col("r.max_val"),
    )


def _zorder_profile_sql() -> str:
    from train_reports_etl_spark.operators.zorder import zorder_sql

    zk = zorder_sql("xm", "ym")
    return f"""
    WITH d0 AS (SELECT MIN(o_orderdate) AS day0 FROM orders),
    m AS (
      SELECT o_custkey, o_orderdate,
             o_custkey % 65536 AS xm,
             CAST(date_diff('day', day0, o_orderdate) AS BIGINT) % 65536 AS ym
      FROM orders, d0),
    z AS (SELECT o_custkey, o_orderdate, {zk} AS zkey FROM m),
    mx AS (SELECT GREATEST(MAX(zkey) // 32, 1) AS cell FROM z)
    SELECT CAST(zkey // cell AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
           CAST(MAX(o_custkey) AS BIGINT) AS max_custkey,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
    FROM z, mx GROUP BY 1
    """


@query("dq_zorder_profile", _zorder_profile_sql())
def dq_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ/layout — Z-order (Morton) clustering key + per-bucket range
    profile: interleave the low 16 bits of (custkey, days-since-first-order)
    and group rows by the key's high bits (cell width = max(zkey)/32,
    a 1-row broadcast scalar, ⇒ ≤ 33 buckets at any scale factor). The per-bucket min/max of BOTH source columns is the
    data-skipping evidence a z-sorted file layout gives min/max
    pruning on either predicate — this query is the OPTIMIZE ZORDER
    arithmetic plus the skipping-stats readout, all exact integers.
    At scale the zkey feeds sorted_write's range partitioner; here the
    bucket groupBy stands in for the file boundary."""
    from train_reports_etl_spark.operators.zorder import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    d0 = orders.agg(F.min("o_orderdate").alias("day0"))
    m = orders.crossJoin(F.broadcast(d0)).select(
        "o_custkey",
        "o_orderdate",
        (F.col("o_custkey") % 65536).alias("xm"),
        (F.datediff("o_orderdate", "day0").cast("long") % 65536).alias("ym"),
    )
    z = m.select(
        "o_custkey",
        "o_orderdate",
        zorder_key(F.col("xm"), F.col("ym")).alias("zkey"),
    )
    mx = z.agg(F.greatest(F.expr("max(zkey) div 32"), F.lit(1).cast("long")).alias("cell"))
    return z.crossJoin(F.broadcast(mx)).groupBy(
        F.expr("zkey div cell").cast("long").alias("zbucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("o_custkey").cast("bigint").alias("min_custkey"),
        F.max("o_custkey").cast("bigint").alias("max_custkey"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )


@query(
    "w13_decayed_counts",
    """
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
    aged AS (
      SELECT event_type,
             CAST(ref_day - CAST(ts AS DATE) AS BIGINT) // 7 AS k
      FROM events, ref)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN k >= 20 THEN 0
                         ELSE 1000000 // (1 << k) END) AS BIGINT)
             AS decayed_ppm
    FROM aged GROUP BY event_type
    """,
)
def w13_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 — recency-decayed popularity with a 7-day half-life: each
    event contributes (1/2)^(age_days div 7) — computed as the integer
    ``10^6 div 2^k`` (k capped at 20 where the weight underflows to
    0 ppm), so the 'exponential decay' score is an exact BIGINT sum,
    order-free and oracle-identical, where a float exp(-λ·age) would
    drift cross-engine. Reference day = max event date (1-row
    broadcast scalar); one narrow per-row weight + one groupBy."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.col("ts").cast("date")).alias("ref_day"))
    aged = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.expr("cast(datediff(ref_day, cast(ts as date)) as bigint) div 7").alias("k"),
    )
    return aged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(
            F.when(F.col("k") >= 20, 0).otherwise(
                F.expr("1000000 div shiftleft(cast(1 as bigint), cast(k as int))")
            )
        )
        .cast("bigint")
        .alias("decayed_ppm"),
    )


@query(
    "e2_symspell_typo_pairs",
    """
    WITH base AS (
      SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents), UNNEST(toks) AS t(tok)
      WHERE LENGTH(t.tok) >= 4
      GROUP BY 1),
    vocab AS (
      -- corpus has no natural typos: inject a first-char-deletion twin
      -- of every frequent word (the OCR/keystroke error model)
      SELECT w, CAST(SUM(freq) AS BIGINT) AS freq FROM (
        SELECT w, freq FROM base
        UNION ALL
        SELECT substring(w, 2) AS w, freq FROM base
        WHERE freq >= 20 AND LENGTH(w) >= 5)
      GROUP BY w),
    variants AS (
      SELECT w, freq,
             CASE WHEN i = 0 THEN w
                  ELSE substring(w, 1, i - 1) || substring(w, i + 1) END AS v
      FROM vocab, UNNEST(range(0, LENGTH(w) + 1)) AS u(i)),
    cand AS (
      SELECT DISTINCT a.w AS w1, b.w AS w2
      FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w)
    SELECT c.w1, c.w2,
           f1.freq AS freq1, f2.freq AS freq2,
           CAST(levenshtein(c.w1, c.w2) AS INT) AS dist
    FROM cand c
    JOIN vocab f1 ON c.w1 = f1.w JOIN vocab f2 ON c.w2 = f2.w
    WHERE levenshtein(c.w1, c.w2) <= 1
    """,
)
def e2_symspell_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — SymSpell-style fuzzy vocabulary join: every edit-distance-1
    word pair in the corpus vocabulary, found WITHOUT an all-pairs
    Levenshtein. Candidate generation is the symmetric-deletion trick:
    each word emits itself plus its single-character deletions; two
    words within distance 1 MUST share a variant (substitution ⇒ same
    deletion position, insert/delete ⇒ one's deletion equals the
    other, equality ⇒ the word itself), so the variant equi-join is a
    LOSSLESS candidate set and the exact Levenshtein verify only
    touches collisions. The typo-clustering primitive for entity /
    query normalization.

    Scale shape: variants ≈ (1 + avg_len) rows per DISTINCT word (the
    vocabulary, not the corpus); the join shuffles short variant
    strings; precision-1 verify per candidate pair. All-pairs over a
    10⁷ vocabulary would be 10¹⁴ comparisons; this is ~10⁸ variant
    rows."""
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 4)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    # Inject deterministic deletion-typos (corpus is synthetic-clean):
    # a first-char-deleted twin of every frequent word.
    typos = base.filter((F.col("freq") >= 20) & (F.length("w") >= 5)).select(
        F.expr("substring(w, 2)").alias("w"), "freq"
    )
    # vocab feeds the variant expansion plus both frequency joins, and
    # variants self-joins — persist both (no CSE across joins), release
    # after the eager checkpoint of the small verified-pair result.
    vocab = (
        base.unionByName(typos).groupBy("w").agg(F.sum("freq").cast("bigint").alias("freq"))
    ).persist()
    variants = vocab.select(
        "w",
        "freq",
        F.explode(F.sequence(F.lit(0), F.length("w"))).alias("i"),
    ).select(
        "w",
        "freq",
        F.when(F.col("i") == 0, F.col("w"))
        .otherwise(
            F.concat(
                F.expr("substring(w, 1, i - 1)"), F.expr("substring(w, i + 1)")
            )
        )
        .alias("v"),
    ).persist()
    a = variants.select(F.col("v"), F.col("w").alias("w1"))
    b = variants.select(F.col("v"), F.col("w").alias("w2"))
    cand = (
        a.join(b, "v")
        .filter(F.col("w1") < F.col("w2"))
        .select("w1", "w2")
        .distinct()
    )
    f1 = vocab.select(F.col("w").alias("w1"), F.col("freq").alias("freq1"))
    f2 = vocab.select(F.col("w").alias("w2"), F.col("freq").alias("freq2"))
    out = (
        cand.join(f1, "w1")
        .join(f2, "w2")
        .withColumn("dist", F.levenshtein("w1", "w2").cast("int"))
        .filter(F.col("dist") <= 1)
        .select("w1", "w2", "freq1", "freq2", "dist")
        .localCheckpoint(eager=True)
    )
    vocab.unpersist()
    variants.unpersist()
    return out


@query(
    "a15_incremental_rollup",
    """
    WITH daily AS (
      SELECT l_shipdate, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
             CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
      FROM lineitem GROUP BY 1),
    merged AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS month, '__merged__' AS source,
             CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sum_qty) AS BIGINT) AS sum_qty,
             CAST(MIN(min_qty) AS BIGINT) AS min_qty,
             CAST(MAX(max_qty) AS BIGINT) AS max_qty
      FROM daily GROUP BY 1),
    direct AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS month, '__direct__' AS source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
             CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
      FROM lineitem GROUP BY 1)
    SELECT * FROM merged UNION ALL SELECT * FROM direct
    """,
)
def a15_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — incremental aggregate maintenance, proven in-query: daily
    partial aggregates (n, Σqty, min, max — all BIGINT, so re-
    aggregation is exact) roll up to monthly WITHOUT rescanning raw
    rows, and the result is emitted next to the direct monthly
    aggregate — '__merged__' and '__direct__' rows must be identical,
    which the value-hash oracle enforces. The daily-shard rollup
    pattern at 100 TB: yesterday's partials are a materialized table,
    today's load aggregates only its own partition and merges. Same
    proof shape as e4_hll_rollup, for exact aggregates."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", F.col("l_quantity").cast("bigint").alias("q")
    )
    daily = li.groupBy("l_shipdate").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_qty"),
        F.min("q").cast("bigint").alias("min_qty"),
        F.max("q").cast("bigint").alias("max_qty"),
    )
    month = F.date_format("l_shipdate", "yyyy-MM").alias("month")
    merged = daily.groupBy(month).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sum_qty").cast("bigint").alias("sum_qty"),
        F.min("min_qty").cast("bigint").alias("min_qty"),
        F.max("max_qty").cast("bigint").alias("max_qty"),
    ).select("month", F.lit("__merged__").alias("source"), "n", "sum_qty", "min_qty", "max_qty")
    direct = li.groupBy(month).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_qty"),
        F.min("q").cast("bigint").alias("min_qty"),
        F.max("q").cast("bigint").alias("max_qty"),
    ).select("month", F.lit("__direct__").alias("source"), "n", "sum_qty", "min_qty", "max_qty")
    return merged.unionByName(direct)


@query(
    "e4_phrase_search",
    """
    WITH posting AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos, toks[i] AS tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents), UNNEST(range(1, len(toks) + 1)) AS u(i)),
    big AS (
      SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c
      FROM posting a JOIN posting b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2),
    phrase AS (
      SELECT w1, w2 FROM big ORDER BY c DESC, w1, w2 LIMIT 1)
    SELECT p1.doc_id, ph.w1, ph.w2, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM posting p1
    JOIN phrase ph ON p1.tok = ph.w1
    JOIN posting p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                   AND p2.tok = ph.w2
    GROUP BY 1, 2, 3
    """,
)
def e4_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — positional-index phrase search ("grep at scale"): a
    positional posting table (doc, pos, token), the corpus's most
    frequent bigram as the query phrase (derived in-query so the test
    is scale-factor-independent), and the phrase match as the
    POSITIONAL JOIN p2.pos = p1.pos + 1 — the inverted-index
    intersection a search engine runs, not a per-document regex scan.
    Per-doc occurrence counts out.

    Scale shape: the posting table shuffles once keyed by doc for the
    adjacency join (term-selective filters land BEFORE the join — only
    postings of the two phrase terms survive); the phrase itself is a
    1-row broadcast. A regex scan re-reads every document byte per
    query; the posting join touches two terms' postings."""
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # posting feeds the phrase derivation plus both positional-join
    # branches — persist so tokenize+posexplode runs once, release
    # after the eager checkpoint of the per-doc hit counts.
    posting = docs.repartition("doc_id").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok").persist()
    w = Window.partitionBy("doc_id").orderBy("pos")
    phrase = (
        posting.select(
            F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    p1 = posting.join(
        F.broadcast(phrase), posting["tok"] == F.col("w1")
    ).select("doc_id", "pos", "w1", "w2")
    p2 = posting.select(
        F.col("doc_id"), F.col("pos").alias("pos2"), F.col("tok").alias("tok2")
    )
    hits = p1.join(
        p2,
        (p1["doc_id"] == p2["doc_id"])
        & (F.col("pos2") == F.col("pos") + 1)
        & (F.col("tok2") == F.col("w2")),
    ).select(p1["doc_id"], "w1", "w2")
    out = hits.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").cast("bigint").alias("n_hits")
    ).localCheckpoint(eager=True)
    posting.unpersist()
    return out


def _ivf_multiprobe_sql(k: int = 10) -> str:
    """Two-probe IVF oracle: the two nearest literal centroids to the
    query (by −2·qv·c + |c|², ties by index), exact cosine top-k over
    the UNION of their cells."""
    cents = _kmeans_literal_centroids()
    dists, arr, qarr = _centroid_dist_arrays(cents)
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    qd AS (SELECT {qarr} AS qa FROM q),
    probe AS (
      SELECT list_position(qa, list_min(qa)) - 1 AS p1,
             list_position(
               list_transform(range(1, len(qa) + 1),
                 i -> CASE WHEN i = list_position(qa, list_min(qa))
                           THEN 1e308 ELSE qa[i] END),
               list_min(list_transform(range(1, len(qa) + 1),
                 i -> CASE WHEN i = list_position(qa, list_min(qa))
                           THEN 1e308 ELSE qa[i] END))) - 1 AS p2
      FROM qd),
    d AS (SELECT vec_id, embedding, {', '.join(dists)} FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 list_position({arr}, list_min({arr})) - 1 AS cluster
          FROM d)
    SELECT e.vec_id, ROUND({_SQL_COS_Q}, 6) AS cosine_sim
    FROM a e, q, probe WHERE e.cluster IN (probe.p1, probe.p2)
    ORDER BY {_SQL_COS_Q} DESC, e.vec_id
    LIMIT {k}
    """


@query("e3_ivf_multiprobe_topk", _ivf_multiprobe_sql())
def e3_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — multi-probe IVF ANN (n_probe = 2): the recall/cost knob of
    every production IVF index. The two nearest quantizer cells to the
    query are searched instead of one — candidates double, recall
    rises, and the plan shape is unchanged (cell filter = partition
    pruning over TWO partitions at scale). Probe selection, routing
    and in-cell exact cosine all deterministic over the shared literal
    centroids → the full two-probe pipeline is strong-oracle-checked
    against e3_ivf_topk_cosine's machinery."""
    from train_reports_etl_spark.extensions.clustering import _assign

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cents = _kmeans_literal_centroids()
    scored = []
    for j, c in enumerate(cents):
        s = 0.0
        for x, y in zip(qv, c):
            s += x * y
        scored.append((-2.0 * s + sum(x * x for x in c), j))
    scored.sort()
    probes = [j for _, j in scored[:2]]
    assigned = _assign(emb, cents, "vec_id", "embedding")
    pruned = assigned.filter(F.col("cluster").isin(probes)).drop("cluster")
    return sim.topk_cosine(pruned, qv, k=10).select(
        "vec_id", F.round("cosine_sim", 6).alias("cosine_sim")
    )


@query(
    "j8_star_join_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_cc,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def j8_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — the six-table star join (TPC-H Q5 shape): local-supplier
    revenue per nation in one region over two order years, with the
    customer-and-supplier-same-nation equi-constraint. The query
    Catalyst's join machinery exists for: region/nation/supplier/
    customer broadcast as dims, lineitem⋈orders is the one real
    shuffle, the region filter prunes before anything fat joins, and
    AQE reorders/sizes the rest. Sum rounded 2dp (order-sensitive
    float aggregate, same policy as a4); count exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    o = orders.filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1998-01-01"))
    )
    # Only the FIXED-size dims get explicit broadcast hints (region 5
    # rows, nation 25). supplier and customer grow with scale factor —
    # hinting them broadcast would OOM a 100 TB run; AQE promotes them
    # to broadcast at small scale on its own (it does at sf0.1).
    dims = (
        F.broadcast(region.filter(F.col("r_name") == "ASIA"))
        .join(F.broadcast(nation), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(dims, li["l_suppkey"] == dims["s_suppkey"])
        .join(
            cust,
            (o["o_custkey"] == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("revenue_cc"),
        F.count("*").cast("bigint").alias("n_items"),
    )


def _incremental_lsh_sql(num_perm: int = 32, bands: int = 8, rows_per_band: int = 4) -> str:
    """Oracle for incremental MinHash+LSH: same machinery as
    _minhash_portable_sql but candidates come from NEW (doc_id%10=0) ×
    CORPUS (rest), never within a side."""
    from train_reports_etl_spark.extensions.dedup import minhash_coefficients
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    m = (1 << 31) - 1
    values = ", ".join(
        f"({p}, {a}, {b})" for p, (a, b) in enumerate(minhash_coefficients(num_perm))
    )
    return f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, UNNEST(ws) AS sh FROM sets),
    hashed AS (
      SELECT id, {hash60_sql('sh')} % {m} AS h FROM posting),
    perms(p, a, b) AS (VALUES {values}),
    sigs AS (
      SELECT id, p, MIN((a * h + b) % {m}) AS hp
      FROM hashed CROSS JOIN perms GROUP BY 1, 2),
    bandk AS (
      SELECT id, p // {rows_per_band} AS band,
             STRING_AGG(CAST(hp AS VARCHAR), ':' ORDER BY p) AS bh
      FROM sigs GROUP BY 1, 2),
    cands AS (
      SELECT DISTINCT n.id AS new_doc, o.id AS corpus_doc
      FROM bandk n JOIN bandk o ON n.band = o.band AND n.bh = o.bh
      WHERE n.id % 10 = 0 AND o.id % 10 != 0),
    ver AS (
      SELECT c.new_doc, c.corpus_doc,
             SUM(CASE WHEN sa.hp = sb.hp THEN 1 ELSE 0 END) AS n_match
      FROM cands c
      JOIN sigs sa ON sa.id = c.new_doc
      JOIN sigs sb ON sb.id = c.corpus_doc AND sb.p = sa.p
      GROUP BY 1, 2)
    SELECT new_doc, corpus_doc, CAST(n_match AS DOUBLE) / {num_perm} AS est_jaccard
    FROM ver WHERE CAST(n_match AS DOUBLE) / {num_perm} >= 0.5
    """


@query("e2_incremental_lsh", _incremental_lsh_sql())
def e2_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — incremental MinHash+LSH: every 10th document plays today's
    ingest batch, the rest the standing corpus; candidates are
    NEW-bands ⋈ CORPUS-bands only — the production daily-dedup shape,
    whose cost scales with the batch, not the corpus. Same portable
    md5 base hash and Carter-Wegman literals as
    e2_minhash_portable_near_dup, so the full incremental pipeline is
    strong-oracle-checked. The corpus band table is the reusable
    materialized artifact a real pipeline persists across days."""
    from train_reports_etl_spark.extensions.dedup import (
        incremental_minhash_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # Both splits are filters of ONE materialized signature table —
    # exactly the artifact the docstring says a real pipeline persists.
    sigs = _shared_portable_minhash_sigs(spark, sf_dir)
    return incremental_minhash_near_duplicates(
        new,
        corpus,
        threshold=0.5,
        portable=True,
        new_signatures=sigs.filter(F.col("id") % 10 == 0),
        corpus_signatures=sigs.filter(F.col("id") % 10 != 0),
    )


@query(
    "e1_stream_corpus_dedup",
    """
    WITH seen AS (SELECT event_id FROM events WHERE event_id % 3 = 0),
    fresh AS (
      SELECT e.* FROM events e LEFT JOIN seen s USING (event_id)
      WHERE s.event_id IS NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM fresh GROUP BY event_type
    """,
)
def e1_stream_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E5 — streaming ingest deduplicated against a STATIC standing
    corpus: a stream-static LEFT ANTI join drops records whose key was
    already ingested (every 3rd event id plays the prior corpus), then
    a complete-mode aggregate counts survivors. Completes the
    streaming-dedup triangle: within-stream first-seen
    (e1_streaming_dedup_first_seen), batch incremental anti-join
    (e1_incremental_new_docs), and now stream-vs-corpus. The static
    side re-reads per micro-batch — at scale make it a broadcast-able
    digest table or a Bloom prefilter (e4_bloom_filter machinery).
    Oracle: stream-static join semantics are DEFINED to equal the
    batch join, so the batch anti-join twin is exact."""
    ev = load_table(spark, sf_dir, "events")
    seen = ev.filter(F.col("event_id") % 3 == 0).select("event_id")
    stream = _stream_events(spark, sf_dir)
    fresh = stream.join(F.broadcast(seen), "event_id", "left_anti")
    # no DISTINCT aggregates on streams — the order-free integer id
    # sum stands in as the exact portable survivor checksum
    agg = fresh.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )
    with conf_scope(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("e1_stream_corpus_dedup_sink")
            .start()
        )
    q.processAllAvailable()
    q.stop()
    return spark.table("e1_stream_corpus_dedup_sink")


def _pr_curve_sql(n_buckets: int = 64, seed: int = 13) -> str:
    from train_reports_etl_spark.extensions.text import hashed_bow_weights

    weights, bias = hashed_bow_weights(n_buckets, seed)
    warr = "[" + ", ".join(f"CAST({w} AS BIGINT)" for w in weights) + "]"
    nib = lambda i: f"(instr('0123456789abcdef', substring(md5(t), {i}, 1)) - 1)"  # noqa: E731
    bucket = f"(({nib(1)} * 16 + {nib(2)}) % {n_buckets})"
    return f"""
    WITH toked AS (SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, n_chars >= 200 AS label,
             CAST({bias}
               + COALESCE(list_sum(list_transform(toks,
                   t -> ({warr})[{bucket} + 1])), 0) AS BIGINT) AS score
      FROM toked),
    thresholds(thr) AS (VALUES (-2000000), (-1000000), (0), (1000000), (2000000))
    SELECT thr,
           CAST(SUM(CASE WHEN score > thr AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score > thr AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score <= thr AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN score > thr AND label THEN 1 ELSE 0 END) * 1000000
                // GREATEST(SUM(CASE WHEN score > thr THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS precision_ppm,
           CAST(SUM(CASE WHEN score > thr AND label THEN 1 ELSE 0 END) * 1000000
                // GREATEST(SUM(CASE WHEN label THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS recall_ppm
    FROM scored CROSS JOIN thresholds
    GROUP BY thr
    """


@query("e4_classifier_pr_curve", _pr_curve_sql())
def e4_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — threshold sweep / PR curve for the hashed-BoW classifier
    (the model-evaluation pass a quality-filter rollout runs before
    picking its operating point): five candidate thresholds crossed
    with every scored document in ONE scan (threshold table is a 5-row
    literal — the cross join is the intended broadcast fan-out), and
    precision/recall as exact integer ppm with a GREATEST(…,1) guard
    for empty denominators. The pseudo-label (n_chars ≥ 200) stands in
    for human labels — the arithmetic is the real thing."""
    from train_reports_etl_spark.extensions.text import linear_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        linear_quality_score(docs)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            (F.col("n_chars") >= 200).alias("label"),
            F.col("score_ppm").alias("score"),
        )
    )
    thr = local_frame(
        spark, [(-2000000,), (-1000000,), (0,), (1000000,), (2000000,)], "thr long"
    )
    crossed = scored.crossJoin(F.broadcast(thr))
    pred = F.col("score") > F.col("thr")
    return crossed.groupBy("thr").agg(
        F.sum(F.when(pred & F.col("label"), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pred & ~F.col("label"), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pred & F.col("label"), 1).otherwise(0)).cast("bigint").alias("fn"),
        F.expr(
            "cast(sum(case when score > thr and label then 1 else 0 end) * 1000000"
            " div greatest(sum(case when score > thr then 1 else 0 end), 1) as bigint)"
        ).alias("precision_ppm"),
        F.expr(
            "cast(sum(case when score > thr and label then 1 else 0 end) * 1000000"
            " div greatest(sum(case when label then 1 else 0 end), 1) as bigint)"
        ).alias("recall_ppm"),
    )


def _ann_recall_sql(k: int = 10) -> str:
    """Exact top-k vs IVF(1-probe) top-k overlap, all in SQL over the
    shared literal centroids."""
    cents = _kmeans_literal_centroids()
    dists, arr, qarr = _centroid_dist_arrays(cents)
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT list_position({qarr}, list_min({qarr})) - 1 AS pc FROM q),
    d AS (SELECT vec_id, embedding, {', '.join(dists)} FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 list_position({arr}, list_min({arr})) - 1 AS cluster FROM d),
    exact_k AS (
      SELECT e.vec_id FROM embeddings e, q
      ORDER BY {_SQL_COS_Q} DESC, e.vec_id LIMIT {k}),
    ivf_k AS (
      SELECT e.vec_id FROM a e, q, probe WHERE e.cluster = probe.pc
      ORDER BY {_SQL_COS_Q} DESC, e.vec_id LIMIT {k})
    SELECT CAST({k} AS INT) AS k,
           CAST((SELECT COUNT(*) FROM exact_k JOIN ivf_k USING (vec_id)) AS INT)
             AS n_overlap,
           CAST((SELECT COUNT(*) FROM exact_k JOIN ivf_k USING (vec_id)) * 1000000
                // {k} AS BIGINT) AS recall_ppm
    """


@query("e3_ann_recall_report", _ann_recall_sql())
def e3_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — ANN quality evaluation: recall@10 of single-probe IVF
    against the exact brute-force top-10, in one query — the tuning
    number that decides n_probe (the e2_lsh_recall_report pattern
    applied to the vector index). Both rankings are deterministic over
    the shared literal centroids, so an approximation's QUALITY is
    itself strong-oracle-checked. Integer ppm recall."""
    from train_reports_etl_spark.extensions.clustering import _assign

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cents = _kmeans_literal_centroids()
    probe = _probe_centroid(qv, cents)
    exact_k = sim.topk_cosine(emb, qv, k=10).select("vec_id")
    pruned = _assign(emb, cents, "vec_id", "embedding").filter(
        F.col("cluster") == probe
    ).drop("cluster")
    ivf_k = sim.topk_cosine(pruned, qv, k=10).select("vec_id")
    overlap = exact_k.join(ivf_k, "vec_id").agg(
        F.count("*").cast("int").alias("n_overlap")
    )
    return overlap.select(
        F.lit(10).cast("int").alias("k"),
        "n_overlap",
        F.expr("cast(n_overlap as bigint) * 1000000 div 10").alias("recall_ppm"),
    )


@query(
    "e8_triangle_count",
    _winnow_ctes()
    + """,
    pairs AS (
      SELECT a.id AS u, b.id AS v
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def e8_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — triangle counting over the near-dup graph (the clustering-
    coefficient numerator: high triangle density ⇒ dup GROUPS, sparse
    triangles ⇒ chains — transitive false positives that keep-best
    should NOT collapse). Ordered node-iterator form: with edges kept
    u < v, each triangle a<b<c is counted exactly once by joining
    wedge (a,b)-(b,c) against closing edge (a,c) — two equi-joins,
    never enumeration over neighborhoods. At scale: degree-order the
    edges first (orient from low to high degree) so wedge fan-out is
    bounded by the SMALLER endpoint's degree — the standard
    skew guard; the synthetic graph is tiny so the plain ordering
    suffices."""
    pairs = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # _winnow_pairs is store-persisted, so the three join branches and
    # the edge count below all read the one materialized edge set.
    e1 = pairs.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = pairs.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    n_edges = pairs.count()
    return tri.agg(F.count("*").cast("bigint").alias("n_triangles")).select(
        "n_triangles", F.lit(n_edges).cast("bigint").alias("n_edges")
    )


@query(
    "dq_referential_integrity",
    """
    SELECT relation, n_child_rows, n_orphans, n_orphans = 0 AS passed FROM (
      SELECT 'lineitem->orders' AS relation,
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child_rows,
             CAST((SELECT COUNT(*) FROM lineitem l
                   LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'lineitem->part',
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem l
                   LEFT JOIN part p ON l.l_partkey = p.p_partkey
                   WHERE p.p_partkey IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'lineitem->supplier',
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem l
                   LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   WHERE s.s_suppkey IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'orders->customer',
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders o
                   LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                   WHERE c.c_custkey IS NULL) AS BIGINT))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — cross-table referential integrity: orphan counts for every
    foreign-key relation in the star schema, as LEFT ANTI join counts
    (the check dq_orders_constraints's single-table pass cannot
    express). Each anti-join shuffles only the key columns; the
    parent side of each relation is dim-sized and broadcasts. The
    ingest-time FK audit that replaces the reference's per-row
    join-miss assertion (reports_exporter_v0.83.py:640-647) with one
    set-level report."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")

    def check(name, child, key, parent, pkey):
        orphans = child.select(key).join(
            parent.select(F.col(pkey).alias(key)), key, "left_anti"
        )
        return (
            child.agg(F.count("*").cast("bigint").alias("n_child_rows"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count("*").cast("bigint").alias("n_orphans"))
                )
            )
            .select(
                F.lit(name).alias("relation"),
                "n_child_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("passed"),
            )
        )

    out = check("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
    for args in [
        ("lineitem->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
    ]:
        out = out.unionByName(check(*args))
    return out


def _shard_manifest_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    return f"""
    WITH t AS (
      SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(LEN(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT *, SUM(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t),
    k AS (
      SELECT *, CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS chunk_id FROM c)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) * 1000000 // (COUNT(DISTINCT chunk_id) * 2048) AS BIGINT)
             AS fill_ppm,
           CAST(COALESCE(BIT_XOR({hash60_sql('CAST(doc_id AS VARCHAR)')}), 0) AS BIGINT)
             AS content_checksum
    FROM k GROUP BY shard
    """


@query("e7_shard_manifest", _shard_manifest_sql())
def e7_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — training-shard manifest: the artifact shipped WITH a packed
    corpus so a consumer can verify it — per shard: doc count, packed
    chunk count, token total, fill efficiency (tokens / chunk·budget in
    integer ppm: how much context window is padding), and an
    order/partition-independent 60-bit content checksum (BIT_XOR of
    md5-derived doc-id hashes — the dq_table_checksums fold applied
    per shard). Same packing arithmetic as e7_pack_sequences; one
    shard-keyed window + one aggregate."""
    from train_reports_etl_spark.extensions.sketches import hash60
    from train_reports_etl_spark.extensions.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = docs.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "chunk_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / 2048.0).cast("long"),
    )
    return c.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("chunk_id").cast("bigint").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr(
            "cast(sum(n_tokens) * 1000000 div (count(distinct chunk_id) * 2048) as bigint)"
        ).alias("fill_ppm"),
        F.coalesce(
            F.expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint))"),
            F.lit(0).cast("bigint"),
        ).alias("content_checksum"),
    )


@query(
    "dq_category_drift",
    """
    WITH span AS (
      SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
             CAST(MAX(CAST(ts AS DATE)) AS DATE) AS d1
      FROM events),
    sided AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) <
                       d0 + CAST(FLOOR(date_diff('day', d0, d1) / 2) AS INT)
                  THEN 'old' ELSE 'new' END AS side
      FROM events, span),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM sided GROUP BY event_type),
    tot AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM counts)
    SELECT event_type, n_old, n_new,
           CAST(n_old * 1000000 // GREATEST(t_old, 1) AS BIGINT) AS p_old_ppm,
           CAST(n_new * 1000000 // GREATEST(t_new, 1) AS BIGINT) AS p_new_ppm,
           CAST(ABS(n_old * 1000000 // GREATEST(t_old, 1)
                    - n_new * 1000000 // GREATEST(t_new, 1)) AS BIGINT)
             AS drift_ppm
    FROM counts, tot
    """,
)
def dq_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — categorical distribution drift between the first and
    second half of the event time span (the monitoring check behind
    'did the upstream mix change'): per-category share in each half as
    integer ppm and their absolute difference (the per-category term
    of total-variation distance). All integer arithmetic — a float
    PSI's ln() would differ cross-engine in the last ulp; TVD ranks
    drift identically. The half-span split point comes from min/max
    date scalars (one 1-row broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    sided = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.when(
            F.col("ts").cast("date")
            < F.expr("date_add(d0, cast(floor(datediff(d1, d0) / 2) as int))"),
            "old",
        )
        .otherwise("new")
        .alias("side"),
    )
    counts = sided.groupBy("event_type").agg(
        F.sum(F.when(F.col("side") == "old", 1).otherwise(0)).cast("bigint").alias("n_old"),
        F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).cast("bigint").alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_old",
        "n_new",
        F.expr("cast(n_old * 1000000 div greatest(t_old, 1) as bigint)").alias("p_old_ppm"),
        F.expr("cast(n_new * 1000000 div greatest(t_new, 1) as bigint)").alias("p_new_ppm"),
        F.expr(
            "cast(abs(n_old * 1000000 div greatest(t_old, 1)"
            " - n_new * 1000000 div greatest(t_new, 1)) as bigint)"
        ).alias("drift_ppm"),
    )


@query(
    "a16_pareto_revenue",
    """
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    tot AS (SELECT SUM(cents) AS total_cents FROM monthly),
    ranked AS (
      SELECT month, cents,
             SUM(cents) OVER (ORDER BY cents DESC, month
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, month) AS rnk
      FROM monthly)
    SELECT month, cents, rnk,
           CAST(cum_cents * 1000000 // total_cents AS BIGINT) AS cum_share_ppm,
           cum_cents * 1000000 // total_cents >= 800000
             AND (cum_cents - cents) * 1000000 // total_cents < 800000
             AS crosses_p80
    FROM ranked, tot
    """,
)
def a16_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — revenue concentration / Pareto analysis: months ranked by
    revenue with the running cumulative share (which months carry 80%
    of revenue — the concentration readout that decides where effort
    goes). Per-month revenue is canonicalized to integer cents FIRST
    (ROUND(x*100) then cast — CAST alone truncates on Spark but rounds
    on DuckDB; one order-sensitive float aggregate, a4 policy), so the
    cumulative sum is exact BIGINT and the running share exact ppm. The global window
    runs over the AGGREGATED month series (~80 rows) — aggregate
    first, window over the tiny series; a global window over raw rows
    would serialize the table through one partition."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    tot = monthly.agg(F.sum("cents").alias("total_cents"))
    w = Window.orderBy(F.desc("cents"), "month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = monthly.withColumn("cum_cents", F.sum("cents").over(w)).withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("cents"), "month"))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "month",
        "cents",
        "rnk",
        F.expr("cast(cum_cents * 1000000 div total_cents as bigint)").alias(
            "cum_share_ppm"
        ),
        F.expr(
            "cum_cents * 1000000 div total_cents >= 800000"
            " and (cum_cents - cents) * 1000000 div total_cents < 800000"
        ).alias("crosses_p80"),
    )


@query(
    "e7_dedup_rate_by_source",
    """
    WITH fp AS (
      SELECT source,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST((COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*) AS BIGINT)
             AS dup_ppm
    FROM fp GROUP BY source
    """,
)
def e7_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — per-source duplication rate (the dataset-card dedup
    column, and the first number a source-quality triage looks at):
    docs vs distinct normalized-content fingerprints per source,
    duplicate fraction in exact integer ppm. One scan; the distinct
    count shuffles 16-byte digests keyed by source."""
    docs = load_table(spark, sf_dir, "documents")
    from train_reports_etl_spark.extensions.text import fingerprint_md5

    fp = docs.select("source", fingerprint_md5("text").alias("fp"))
    return fp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_unique"),
        F.expr(
            "cast((count(*) - count(distinct fp)) * 1000000 div count(*) as bigint)"
        ).alias("dup_ppm"),
    )


@query(
    "j9_top_unshipped_orders",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_cc,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_cc DESC, o.o_orderkey
    LIMIT 10
    """,
)
def j9_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — TPC-H Q3 shape: top-10 highest-revenue orders not yet
    shipped at the cutoff, for one market segment. Both date filters
    and the segment filter push into the scans (PushedFilters) before
    either join; the top-10 is TakeOrderedAndProject over the grouped
    result — k rows per partition to the driver, never a global
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.filter(F.col("o_orderdate").cast("date") < F.lit("1998-03-15"))
    l = li.filter(F.col("l_shipdate").cast("date") > F.lit("1998-03-15"))
    c = cust.filter(F.col("c_mktsegment") == "BUILDING")
    joined = l.join(o, l["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    grouped = joined.groupBy(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("revenue_cc")
    )
    return (
        grouped.orderBy(F.desc("revenue_cc"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "revenue_cc",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@query(
    "a17_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def a17_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — TPC-H Q18 shape (large-volume orders): orders whose total
    line quantity exceeds a threshold, found by aggregating FIRST and
    semi-joining the survivors back — the aggregate-then-join pattern
    that turns a HAVING over 6 billion lineitems into a join against
    the (small) qualifying-key set. Quantities as BIGINT → exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("tq"))
        .filter(F.col("tq") > 150)
        .select(F.col("l_orderkey").alias("big_key"))
    )
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(big, orders["o_orderkey"] == big["big_key"]).join(
        li, li["l_orderkey"] == orders["o_orderkey"]
    )
    return joined.groupBy("o_orderkey", "o_orderstatus").agg(
        F.sum("q").cast("bigint").alias("total_qty"),
        F.count("*").cast("bigint").alias("n_items"),
    )


@query(
    "j10_null_safe_join",
    """
    WITH ev AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS etype
      FROM events),
    dim(etype, category) AS (
      VALUES ('purchase', 'revenue'), ('signup', 'revenue'),
             ('view', 'engagement'), ('click', 'engagement'),
             (NULL, 'unclassified')),
    j AS (
      SELECT e.event_id, d.category
      FROM ev e JOIN dim d ON e.etype IS NOT DISTINCT FROM d.etype)
    SELECT category, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM j GROUP BY category
    """,
)
def j10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): the
    join semantic CDC merges and dimension lookups with a designated
    NULL bucket need — ordinary equality silently DROPS null keys (a
    NULL never equals NULL), so un-mapped rows vanish instead of
    landing in the 'unclassified' bucket. Null-safe equality still
    hash-partitions (NULL is one key), so the plan is a normal
    broadcast/hash join, not a cross product. Nulls injected by
    nulling one event type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("etype"),
    )
    dim = local_frame(
        spark,
        [
            ("purchase", "revenue"),
            ("signup", "revenue"),
            ("view", "engagement"),
            ("click", "engagement"),
            (None, "unclassified"),
        ],
        "etype string, category string",
    )
    j = ev.join(F.broadcast(dim), ev["etype"].eqNullSafe(dim["etype"]))
    return j.groupBy("category").agg(F.count("*").cast("bigint").alias("n_events"))


@query(
    "f18_explode_outer",
    """
    WITH aug AS (
      SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN '' ELSE text END AS text
      FROM documents),
    toked AS (
      SELECT doc_id,
             list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 3) AS toks
      FROM aug),
    exploded AS (
      SELECT t.doc_id, t.toks[u.i] AS tok, CAST(u.i - 1 AS INT) AS pos
      FROM toked t, UNNEST(range(1, len(t.toks) + 1)) AS u(i)
      UNION ALL
      SELECT doc_id, NULL, NULL FROM toked WHERE len(toks) = 0)
    SELECT doc_id, pos, tok FROM exploded
    """,
)
def f18_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — OUTER explode semantics: flattening must not silently
    drop rows whose array is empty (every 50th doc's text is blanked
    to force the case). ``posexplode_outer`` keeps one (NULL, NULL)
    row per empty document — the difference between 'this doc has no
    tokens' and 'this doc disappeared from the pipeline', which
    matters for row-count reconciliation after a flatten. Plain UNNEST
    drops empties on both engines; the oracle writes the UNION ALL
    that outer-unnest folds into one operator."""
    docs = load_table(spark, sf_dir, "documents")
    from train_reports_etl_spark.extensions.text import tokens

    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 50 == 0, F.lit("")).otherwise(F.col("text")).alias("text"),
    )
    toked = aug.select("doc_id", F.slice(tokens("text"), 1, 3).alias("toks"))
    return toked.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")


@query(
    "e4_source_overlap",
    """
    WITH posting AS (
      SELECT DISTINCT source, t.tok
      FROM (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents), UNNEST(toks) AS t(tok)),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM posting GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM posting a JOIN posting b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, i.n_inter,
           CAST(i.n_inter * 1000000 // (sa.sz + sb.sz - i.n_inter) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    WHERE i.n_inter * 1000000 // (sa.sz + sb.sz - i.n_inter) >= 500000
    """,
)
def e4_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — cross-source vocabulary overlap: Jaccard of distinct-token
    sets between source pairs (≥ 0.5 reported), integer ppm — the
    corpus-comparison diagnostic behind 'are these two crawls the same
    content' and source-level dedup triage. Token-keyed inverted-index
    join (pairs meet only on shared tokens — never |S|² set
    comparisons); set sizes join back from a per-source aggregate."""
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    posting = (
        docs.select("source", F.explode(tokens("text")).alias("tok")).distinct()
    )
    sizes = posting.groupBy("source").agg(F.count("*").cast("bigint").alias("sz"))
    a = posting.select(F.col("source").alias("src_a"), "tok")
    b = posting.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    jac = F.expr("n_inter * 1000000 div (sz_a + sz_b - n_inter)")
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .withColumn("jaccard_ppm", jac.cast("bigint"))
        .filter(F.col("jaccard_ppm") >= 500000)
        .select("src_a", "src_b", "n_inter", "jaccard_ppm")
    )


@query(
    "w14_dense_timeseries",
    """
    WITH bounds AS (
      SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
             CAST(MAX(CAST(ts AS DATE)) AS DATE) AS d1
      FROM events),
    calendar AS (
      SELECT CAST(u.d AS DATE) AS day
      FROM bounds, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT strftime(c.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases,
           d.n IS NULL AS gap_filled
    FROM calendar c LEFT JOIN daily d ON c.day = d.day
    """,
)
def w14_dense_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 — time-series densification: daily purchase counts with
    MISSING DAYS filled as explicit zero rows (groupBy alone silently
    omits empty buckets, which breaks moving averages, anomaly
    baselines and chart axes downstream). The calendar spine is
    generated from the min/max date scalars (sequence + explode — a
    few thousand rows for years of days, broadcastable) and
    left-joins the sparse aggregate; gap_filled marks synthesized
    rows. Dates emitted as ISO strings (the portable form)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    calendar = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        calendar.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_purchases"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


# ------------------------------------------------- round-6 adds: subquery
# shapes (TPC-H Q2/Q16/Q20/Q21/Q22 analogs on the synthetic star schema),
# the remaining ranking window functions, and density-based core points.


@query(
    "j11_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sum_cents,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    best AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum_cents AS DOUBLE) / sum_qty AS unit_cents
      FROM cost
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY l_partkey
        ORDER BY CAST(sum_cents AS DOUBLE) / sum_qty, l_suppkey) = 1)
    SELECT p.p_partkey, s.s_name, n.n_name, b.unit_cents
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey AND p.p_size >= 48
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
)
def j11_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated MIN subquery: for each (filtered)
    part, the supplier with the lowest observed unit price, decorated
    through supplier → nation. The correlated "= (SELECT MIN ...)" is
    a per-key window argmin (one shuffle by part), never a re-executed
    subquery; unit price is a ratio of exact integer sums (cents /
    units) so the double compares identically on both engines. Dims
    broadcast; the only real shuffle is the lineitem rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents).alias("sum_cents"), F.sum(qty).alias("sum_qty")
    )
    unit = (F.col("sum_cents").cast("double") / F.col("sum_qty")).alias("unit_cents")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("sum_cents").cast("double") / F.col("sum_qty"), F.col("l_suppkey")
    )
    best = (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", unit)
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 48)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("p_partkey", "s_name", "n_name", "unit_cents")
    )


@query(
    "j12_supplier_count_by_brand",
    """
    SELECT p.p_brand, p.p_type,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'ECONOMY' AND p.p_size <= 10
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def j12_supplier_count_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN subquery as a broadcast LEFT ANTI
    join: distinct supplier counts per (brand, type) for small
    non-ECONOMY parts, excluding negative-balance suppliers. The
    NOT-IN list is tiny (it broadcasts); the distinct count shuffles
    (brand, type, suppkey) triples after map-side dedup, never raw
    lineitems."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "ECONOMY") & (F.col("p_size") <= 10)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(excluded), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "j13_volume_suppliers",
    """
    WITH vol AS (
      SELECT l.l_suppkey, SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS total_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small %'
      GROUP BY 1),
    thresh AS (
      SELECT 0.5 * (CAST(SUM(total_qty) AS DOUBLE) / COUNT(*)) AS t FROM vol)
    SELECT s.s_suppkey, s.s_name, CAST(v.total_qty AS BIGINT) AS total_qty
    FROM vol v JOIN supplier s ON s.s_suppkey = v.l_suppkey
    WHERE CAST(v.total_qty AS DOUBLE) > (SELECT t FROM thresh)
    """,
)
def j13_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — semi-join against an aggregated, scalar-
    thresholded subquery: suppliers whose shipped volume of 'small'
    parts exceeds half the mean supplier volume. The scalar threshold
    is a 1-row broadcast (ratio of exact integer sums — identical
    double on both engines); the part filter prunes before the join;
    the supplier dim decorates by broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("total_qty"))
    )
    thresh = vol.agg(
        (0.5 * (F.sum("total_qty").cast("double") / F.count("*"))).alias("t")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        vol.crossJoin(F.broadcast(thresh))
        .filter(F.col("total_qty").cast("double") > F.col("t"))
        .join(F.broadcast(sup), vol.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_qty")
    )


@query(
    "j14_sole_late_supplier",
    """
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 1400
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS INT) AS n_supp,
             CAST(SUM(is_late) AS INT) AS n_late
      FROM flagged GROUP BY 1),
    sole AS (
      SELECT f.l_suppkey
      FROM flagged f JOIN per_order p ON p.l_orderkey = f.l_orderkey
      WHERE p.n_supp >= 2 AND p.n_late = 1 AND f.is_late = 1)
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    GROUP BY 1, 2
    """,
)
def j14_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS / NOT-EXISTS double correlation
    (another supplier in the order exists; another LATE supplier does
    not), decorrelated into one grouped pass: per (order, supplier)
    late flags, per-order supplier/late counts, keep sole-late
    suppliers in multi-supplier orders, count per supplier. Two
    keyed shuffles total — the per-order rollup rides the same
    orderkey exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.when(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 1400,
        1,
    ).otherwise(0)
    flagged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count("*").cast("int").alias("n_supp"),
        F.sum("is_late").cast("int").alias("n_late"),
    )
    sole = (
        flagged.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1) & (F.col("is_late") == 1))
        .select("l_suppkey")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(sup), sole.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


@query(
    "j15_dormant_rich_customers",
    """
    WITH bounds AS (
      SELECT CAST(MAX(o_orderdate) AS DATE) - 180 AS cutoff FROM orders),
    avg_bal AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_cents
      FROM customer WHERE c_acctbal > 0),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) > (SELECT cutoff FROM bounds))
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM customer c
    WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) > (SELECT avg_cents FROM avg_bal)
      AND c.c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY 1
    """,
)
def j15_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar AVG subquery + anti-join: customers
    with above-average balance (among positive balances) and NO order
    in the trailing 180 days of the data, rolled up per nation. Both
    scalars (cutoff date, average cents) are 1-row broadcasts; the
    recent-buyer set anti-joins; balances compare in exact cents.
    (Every synthetic customer has SOME order, so the dormancy window
    replaces Q22's no-orders-at-all predicate.)"""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cutoff = orders.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 180).alias("cutoff")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(cents).cast("double") / F.count("*")).alias("avg_cents"))
    )
    recent = (
        orders.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate").cast("date") > F.col("cutoff"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(cents.cast("double") > F.col("avg_cents"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(cents).alias("total_cents"),
        )
    )


@query(
    "w15_quartile_stats",
    """
    WITH ranked AS (
      SELECT c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
             NTILE(4) OVER w AS quartile,
             CUME_DIST() OVER w AS cd,
             FIRST_VALUE(CAST(ROUND(c_acctbal * 100) AS BIGINT)) OVER w AS min_cents_seg
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey)
    )
    SELECT segment, CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(cents) AS min_cents, MAX(cents) AS max_cents,
           MAX(cd) AS max_cume_dist,
           MIN(min_cents_seg) AS segment_min_cents
    FROM ranked GROUP BY 1, 2
    """,
)
def w15_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — the remaining ranking window functions in one pass:
    NTILE(4) balance quartiles per market segment, CUME_DIST (an
    exact rational — portable even as a double), and FIRST_VALUE over
    the same fully-deterministic window (cents, custkey order breaks
    every tie). One window shuffle keyed by segment feeds all three
    functions; the rollup rides the same exchange."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    w = Window.partitionBy("segment").orderBy(F.col("cents"), F.col("c_custkey"))
    ranked = cust.select(
        F.col("c_mktsegment").alias("segment"),
        cents.alias("cents"),
        "c_custkey",
    ).select(
        "segment",
        "cents",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.first("cents").over(w).alias("min_cents_seg"),
    )
    return ranked.groupBy("segment", F.col("quartile").cast("int").alias("quartile")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.max("cd").alias("max_cume_dist"),
        F.min("min_cents_seg").alias("segment_min_cents"),
    )


@query(
    "e3_density_cores",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_SQL_COS} >= 0.2),
    sym AS (
      SELECT id_a AS vec_id FROM pairs
      UNION ALL SELECT id_b AS vec_id FROM pairs),
    cnt AS (
      SELECT vec_id, CAST(COUNT(*) AS INT) AS n_neighbors
      FROM sym GROUP BY 1)
    SELECT e.vec_id, COALESCE(c.n_neighbors, 0) AS n_neighbors,
           COALESCE(c.n_neighbors, 0) >= 3 AS is_core
    FROM embeddings e LEFT JOIN cnt c ON c.vec_id = e.vec_id
    """,
)
def e3_density_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — DBSCAN-style density classification: per vector, the
    count of same-label neighbors at cosine ≥ 0.2; core points have
    ≥ 3 (the outlier/density signal SemDeDup-style pruning and
    cluster-quality audits consume). Reuses the blocked pair
    machinery (pair space bounded by label cells, id-pair exchange
    repartitioned before the fold); the neighbor count is a symmetric
    explode + integer groupBy; isolated vectors appear with zero."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.cosine_near_duplicates(emb, threshold=0.2, block_col="label")
    sym = pairs.select(F.col("id_a").alias("vec_id")).unionAll(
        pairs.select(F.col("id_b").alias("vec_id"))
    )
    cnt = sym.groupBy("vec_id").agg(F.count("*").cast("int").alias("n_neighbors"))
    return (
        emb.select("vec_id")
        .join(cnt, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            (F.coalesce("n_neighbors", F.lit(0)) >= 3).alias("is_core"),
        )
    )


@query(
    "w16_debounce_events",
    """
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
             ) AS prev_us
      FROM events)
    SELECT event_type,
           CAST(SUM(CASE WHEN prev_us IS NOT NULL AND us - prev_us < 30000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
           CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 30000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM seq GROUP BY 1
    """,
)
def w16_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16 — event debouncing: an event is a bounce if the SAME
    (user, event_type) fired < 30 s earlier — the double-click /
    retry-storm filter every ingest pipeline runs before counting
    anything. One lag window per (user, type) on integer microseconds
    (the NTZ-safe epoch form), ties broken by event_id; the rollup
    rides a second small exchange. At scale the window key is the
    dedup key — state per key is one timestamp."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(us, F.col("event_id"))
    seq = ev.select(
        "event_type",
        us.alias("us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    bounce = F.col("prev_us").isNotNull() & ((F.col("us") - F.col("prev_us")) < 30_000_000)
    return seq.groupBy("event_type").agg(
        F.sum(F.when(bounce, 1).otherwise(0)).cast("long").alias("n_debounced"),
        F.sum(F.when(bounce, 0).otherwise(1)).cast("long").alias("n_kept"),
    )


@query(
    "u3_union_evolved_schema",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
             'v1' AS src
      FROM orders WHERE o_orderkey % 2 = 0),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS src
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    GROUP BY 1
    """,
)
def u3_union_evolved_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — schema-evolution union: a v1 extract lacking a column a
    v2 extract later added, merged with ``unionByName(
    allowMissingColumns=True)`` so the missing column null-fills —
    the batch analogue of reading a table across schema versions.
    Counts prove the null-fill (v1 rows carry no priority); money in
    exact cents. Narrow end to end but the rollup exchange."""
    from train_reports_etl_spark.operators.union import union_all

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("src")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority", F.lit("v2").alias("src")
    )
    merged = union_all([v1, v2], allow_missing_columns=True)
    return merged.groupBy("src").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


@query(
    "e1_dedup_rate_curve",
    f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, LEN(ws) AS sz, UNNEST(ws) AS sh FROM sets),
    inter AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.sz AS sz_a, b.sz AS sz_b,
             COUNT(*) AS n_inter
      FROM posting a JOIN posting b ON a.sh = b.sh AND a.id < b.id
      GROUP BY 1, 2, 3, 4),
    scored AS (
      SELECT jac FROM (
        SELECT CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter) AS jac FROM inter)
      WHERE jac >= 0.5),
    t(threshold) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9))
    SELECT t.threshold,
           CAST(SUM(CASE WHEN s.jac >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs
    FROM t, scored s GROUP BY 1
    """,
)
def e1_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 — the dedup THRESHOLD TUNING curve: near-dup pair counts
    at jaccard ≥ {0.5 … 0.9} from ONE pass over the pair scores (the
    number a pipeline owner reads before picking the production
    threshold — the PR-curve pattern applied to dedup). Scores come
    from the exact shingle inverted index once; the five thresholds
    are a 5-row literal broadcast crossed against the scored pairs —
    never five scans. Scoring runs at the curve's FLOOR threshold
    (0.5): every curve bucket is ≥ 0.5, so pairs below it count in no
    bucket — pre-filtering at 0.5 is result-identical (same double
    compare both stages) while engaging the PPJoin length filter and
    shrinking the cross-join input to actual near-dups. The oracle's
    scored CTE applies the SAME >= 0.5 floor so row EXISTENCE also
    matches: on a corpus with no pair reaching 0.5 both sides emit 0
    rows (an unfiltered oracle would emit 5 zero rows there)."""
    scored = _shared_jaccard_pairs(spark, sf_dir).select("jaccard")
    thresholds = local_frame(
        spark, [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    return (
        F.broadcast(thresholds)
        .crossJoin(scored)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs")
        )
    )


@query(
    "e3_matryoshka_topk",
    f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    pre AS (
      SELECT e.vec_id,
             list_sum(list_transform(list_zip(e.embedding[1:16], q.qv[1:16]),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding[1:16],
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qv[1:16],
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS pre_cos
      FROM embeddings e, q
      ORDER BY pre_cos DESC, e.vec_id LIMIT 50)
    SELECT e.vec_id, ROUND(pre.pre_cos, 6) AS prefix_cos,
           ROUND({_SQL_COS_Q}, 6) AS cosine_sim
    FROM pre JOIN embeddings e ON e.vec_id = pre.vec_id, q
    ORDER BY {_SQL_COS_Q} DESC, e.vec_id
    LIMIT 10
    """,
)
def e3_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — Matryoshka-style two-stage retrieval: stage 1 scores every
    vector by cosine over the FIRST 16 dimensions only (the MRL
    prefix-dim trick — 4× less arithmetic and I/O than full-width,
    the float analogue of the int8 prefilter), keeps top-50; stage 2
    reranks survivors with the exact 64-dim cosine. Both folds are
    sequential on both engines, ties break on vec_id, so the whole
    cascade is strong-oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    qpre = F.array(*[F.lit(float(v)) for v in qv[:16]])
    qfull = F.array(*[F.lit(float(v)) for v in qv])
    pre = (
        emb.select(
            "vec_id",
            sim.cosine(F.slice("embedding", 1, 16), qpre).alias("pre_cos"),
        )
        .orderBy(F.desc("pre_cos"), F.col("vec_id"))
        .limit(50)
    )
    return (
        emb.join(F.broadcast(pre), "vec_id")
        .select(
            "vec_id",
            F.round("pre_cos", 6).alias("prefix_cos"),
            sim.cosine(F.col("embedding"), qfull).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "prefix_cos", F.round("cos", 6).alias("cosine_sim"))
    )


@query(
    "dq_freshness_lag",
    """
    WITH g AS (SELECT MAX(epoch_us(ts)) AS gmax_us FROM events)
    SELECT e.event_type,
           CAST(((SELECT gmax_us FROM g) - MAX(epoch_us(e.ts))) // 1000000
                AS BIGINT) AS lag_seconds,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e GROUP BY 1
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — per-stream freshness: how far each event type's newest
    record trails the newest record overall (integer seconds — the
    staleness number an ingest monitor alerts on; a type whose lag
    grows is a stuck upstream). One grouped max + a 1-row global-max
    broadcast; NTZ-safe integer microsecond arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_type = ev.groupBy("event_type").agg(
        F.max(us).alias("max_us"), F.count("*").cast("long").alias("n_events")
    )
    global_max = ev.agg(F.max(us).alias("gmax_us"))
    return per_type.crossJoin(F.broadcast(global_max)).select(
        "event_type",
        F.floor((F.col("gmax_us") - F.col("max_us")) / 1_000_000)
        .cast("long")
        .alias("lag_seconds"),
        "n_events",
    )


@query(
    "dq_pk_uniqueness",
    """
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'part', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT)
    FROM lineitem
    """,
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — primary-key uniqueness audit across the star tables (the
    complement of dq_referential_integrity's FK orphan counts): row
    count vs distinct key count per table; lineitem checks the
    composite (orderkey, linenumber) — which the synthetic generator
    does NOT keep unique (FIXTURES.md), so a nonzero dup count here is
    the honest finding, not a bug. Four independent single-table
    aggregates unioned — each is one scan with map-side partial
    distinct."""
    def audit(tbl: str, key, name: str) -> DataFrame:
        t = load_table(spark, sf_dir, tbl)
        return t.agg(
            F.lit(name).alias("tbl"),
            F.count("*").cast("long").alias("n_rows"),
            F.count_distinct(key).cast("long").alias("n_keys"),
            (F.count("*") - F.count_distinct(key)).cast("long").alias("n_dup_rows"),
        )

    return (
        audit("orders", F.col("o_orderkey"), "orders")
        .unionByName(audit("customer", F.col("c_custkey"), "customer"))
        .unionByName(audit("part", F.col("p_partkey"), "part"))
        .unionByName(
            audit(
                "lineitem",
                F.col("l_orderkey") * 100 + F.col("l_linenumber"),
                "lineitem",
            )
        )
    )


@query(
    "e1_stream_native_dedup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_unique_keys
    FROM events GROUP BY 1
    """,
)
def e1_stream_native_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 streaming — the NATIVE bounded-state dedup
    (``dropDuplicatesWithinWatermark``) over the events stream keyed
    by (user_id, event_type): pure JVM state, one entry per live key,
    expired by the watermark — no Python worker in the loop (the
    operator the ``applyInPandasWithState`` first-seen variant should
    NOT be used for when no custom payload is needed). WHICH row of a
    key survives within a batch is not deterministic, so the oracle
    checks the deterministic projection: one survivor per key ⇒
    distinct-key counts per type."""
    from train_reports_etl_spark.streaming.stateful import (
        streaming_dedup_within_watermark,
    )

    out = streaming_dedup_within_watermark(
        _stream_events(spark, sf_dir),
        key_cols=["user_id", "event_type"],
        ts_col="ts",
    )
    _run_to_memory(out, "e1_stream_native_dedup_sink")
    return (
        spark.table("e1_stream_native_dedup_sink")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_unique_keys"))
    )


@query(
    "j16_market_share",
    """
    WITH rev AS (
      SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS yr,
             SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2)
    SELECT nation, CAST(yr AS INT) AS yr, CAST(cents AS BIGINT) AS revenue_cents,
           CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER (PARTITION BY yr) AS DOUBLE) AS share
    FROM rev
    """,
)
def j16_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — share-of-total per group: each supplier
    nation's revenue share within its order year. The grouped rollup
    shuffles integer cents once; the share is a window SUM over the
    ALREADY-AGGREGATED (nation × year) rows — a few hundred rows, not
    the fact table — and a ratio of exact integers, so the double is
    bit-identical. Dims broadcast; discount applied per row then
    rounded to cents exactly as the oracle does."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("yr")
    return rev.select(
        "nation",
        F.col("yr").cast("int").alias("yr"),
        F.col("cents").alias("revenue_cents"),
        (F.col("cents").cast("double") / F.sum("cents").over(w).cast("double")).alias(
            "share"
        ),
    )


@query(
    "e1_dedup_provenance",
    _clusters_sql().replace(
        "SELECT doc_id, cluster_rep, cluster_size FROM comp JOIN sizes USING (cluster_rep)",
        """,
    prov AS (
      SELECT comp.doc_id, comp.cluster_rep, d.source
      FROM comp JOIN documents d USING (doc_id))
    SELECT cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(source))), ',') AS sources_csv,
           CAST(LEN(LIST_DISTINCT(LIST(source))) AS INT) AS n_sources
    FROM prov GROUP BY 1 HAVING COUNT(*) > 1
    """,
    ),
)
def e1_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — dedup with PROVENANCE: for every non-singleton near-dup
    cluster, which sources contributed members (the audit a removal
    decision needs — a cluster spanning crawls is boilerplate, one
    inside a single source is a re-upload). Sorted-distinct source
    set rendered as CSV (the portable form of an array output);
    per-cluster member counts ride the same exchange as the rollup.
    Consumes the materialized cluster assignment — no extra CC run."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = _shared_winnow_clusters(spark, sf_dir)
    return (
        clusters.join(docs, "doc_id")
        .groupBy("cluster_rep")
        .agg(
            F.count("*").cast("long").alias("cluster_size"),
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias(
                "sources_csv"
            ),
            F.size(F.collect_set("source")).cast("int").alias("n_sources"),
        )
        .filter(F.col("cluster_size") > 1)
    )


@query(
    "e7_balanced_shards",
    f"""
    WITH sized AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sized),
    assigned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS shard
      FROM ranked)
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY 1
    """,
)
def e7_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — token-BALANCED shard assignment: docs sorted by token
    count descending and dealt to 8 shards in serpentine (snake)
    order — the deterministic, fully-distributed stand-in for greedy
    bin packing (guaranteed within one max-doc of even; greedy is
    inherently sequential). Global rank comes from
    ``distributed_rank`` (sampled range buckets + per-bucket window +
    offset stitch — never a single-partition window); assignment and
    totals are pure integer arithmetic. The balance report per shard
    is what a training job reads to verify no shard is a straggler."""
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.operators.ranking import distributed_rank

    k = 8
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    # distributed_rank is ascending — rank on the negated token count
    # (ties broken by doc_id) to get the descending deal order.
    ranked = distributed_rank(
        docs.withColumn("neg_tokens", -F.col("n_tokens")),
        bucket_col="neg_tokens",
        order_cols=["neg_tokens", "doc_id"],
    ).withColumn("r", F.col("rnk") - 1)
    shard = F.when(
        ((F.col("r") / k).cast("long") % 2) == 0, F.col("r") % k
    ).otherwise((k - 1) - (F.col("r") % k))
    return (
        ranked.withColumn("shard", shard.cast("int"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Round-4 closing batch: the remaining classic TPC-H query shapes on the
# synthetic star schema (Q4/Q7/Q10/Q11/Q12/Q13/Q14/Q15/Q17/Q19 analogs —
# adapted where the synthetic schema lacks a column: no l_shipmode /
# l_commitdate / partsupp). Revenue arithmetic stays in exact BIGINT
# "centi-cents" — ROUND(price*100) and 100−ROUND(discount*100) are both
# exact integers, so every SUM/compare is bit-identical cross-engine
# (the j11/_CHECKSUM_SPECS portability pattern; raw double sums are not
# order-stable and row-level float ROUND is banned).

_REV_CENTICENTS_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
)


def _rev_centicents() -> "F.Column":
    """Exact integer revenue: cents × (100 − discount%). The per-row
    product is computed in BIGINT (≤ ~1.1e9, nowhere near wrapping)
    then widened to decimal(38,0) so every downstream SUM accumulates
    wide — DuckDB sums BIGINT into HUGEINT, while a Spark long SUM
    wraps silently past int64 (≈ sf2500 for single-group revenue, far
    lower for ×10⁶ share math). Consumers cast the final aggregate
    back to BIGINT for output, which at an sf where the total itself
    exceeded int64 would go NULL (non-ANSI) / error (DuckDB) — loud,
    never silently wrong."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    keep = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    return (cents * keep).cast("decimal(38,0)")


@query(
    "j17_order_priority_check",
    f"""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY o.o_orderpriority
    """,
)
def j17_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS as a LEFT SEMI join: orders
    in one quarter with at least one line shipped >60 days after the
    order date ("late" — the commitdate/receiptdate analog the
    synthetic schema supports), counted per priority. The EXISTS never
    re-executes per row: one semi-join on l_orderkey with the
    late-ship predicate attached (semi-join output is at most one row
    per order, so no pre-dedup of lineitem is needed); the quarter
    filter pushes into the orders scan before the join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01"))
    )
    late = li.select("l_orderkey", "l_shipdate")
    hit = o.join(
        late,
        (o["o_orderkey"] == late["l_orderkey"])
        & (
            late["l_shipdate"].cast("date")
            > F.date_add(o["o_orderdate"].cast("date"), 60)
        ),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


@query(
    "j20_priority_shipping",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
    GROUP BY l.l_returnflag
    """,
)
def j20_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — join + conditional CASE counts: lines shipped
    in one year, split urgent/non-urgent per return-flag class (the
    shipmode analog the synthetic schema supports). The year filter
    prunes lineitem at the scan; the priority CASE folds map-side into
    the single hash aggregate — one shuffle of 3 groups × 2 longs."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    l = li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1999-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(orders, l["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "j21_order_count_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def j21_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the count-of-counts distribution: orders per
    customer (LEFT join so no-order customers land in the c_count=0
    bucket, with a join-side filter standing in for the comment
    NOT-LIKE), then how many customers share each count. Two
    aggregations: the first shuffles by custkey, the second by the
    (tiny) count value; COUNT(o_orderkey) counts matched rows only —
    exactly the null-skipping semantics the outer join needs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@query(
    "a18_promo_revenue_share",
    f"""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_REV_CENTICENTS_SQL} ELSE 0 END)
                * 1000000 // SUM({_REV_CENTICENTS_SQL}) AS BIGINT)
             AS promo_share_ppm,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_REV_CENTICENTS_SQL} ELSE 0 END) AS BIGINT)
             AS promo_centicents,
           CAST(SUM({_REV_CENTICENTS_SQL}) AS BIGINT) AS total_centicents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-03-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-04-01'
    """,
)
def a18_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional share-of-total: the fraction of
    one month's revenue from PROMO-type parts, in exact integer ppm
    (the float 100·x/y of the original differs cross-engine in the
    last ulp; integer div of exact centi-cent sums hash-checks). The
    month filter prunes the lineitem scan; part broadcasts; both CASE
    sums fold map-side into one aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    l = li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1998-03-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-04-01"))
    )
    rev = _rev_centicents()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(part), l["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(promo).alias("p_cc"),
            F.sum(rev).alias("t_cc"),
        )
        .select(
            # decimal(38,0) for the ×10⁶: the long multiply would wrap
            # around sf≳0.25 while DuckDB's HUGEINT sum stays exact.
            F.expr(
                "cast((cast(p_cc as decimal(38,0)) * 1000000) div t_cc as bigint)"
            ).alias("promo_share_ppm"),
            F.col("p_cc").cast("long").alias("promo_centicents"),
            F.col("t_cc").cast("long").alias("total_centicents"),
        )
    )


@query(
    "j24_disjunctive_filter",
    f"""
    SELECT p.p_brand,
           CAST(SUM({_REV_CENTICENTS_SQL}) AS BIGINT) AS revenue_centicents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 15 AND 50
           AND l.l_quantity BETWEEN 25 AND 40)
    GROUP BY p.p_brand
    """,
)
def j24_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-conjunctions across join sides: three
    (brand, size-range, quantity-range) clauses, revenue per surviving
    brand. Catalyst cannot split the cross-table OR, but it DOES push
    the derivable single-side conditions: the brand IN-list prunes the
    part scan and the overall quantity envelope prunes lineitem before
    the join; the exact disjunction applies post-join. Part broadcasts,
    so the only shuffle is the 3-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(15, 50)
            & F.col("l_quantity").between(25, 40)
        )
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(clause)
        .groupBy("p_brand")
        .agg(
            F.sum(_rev_centicents()).cast("long").alias("revenue_centicents"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@query(
    "j18_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev) AS BIGINT) AS revenue_centicents
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
             {_REV_CENTICENTS_SQL} AS rev
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def j18_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — volume shipping between two nations: revenue
    per (supplier-nation, customer-nation, ship-year) for the two
    directed pairs. The nation filters reduce each side BEFORE the
    fact joins: supplier⋈nation1 and customer⋈nation2 are broadcast
    prunes, so only lineitem rows of the two nations' suppliers reach
    the orders join. The cross-pair OR applies post-join (it spans
    both sides); revenue stays exact BIGINT centi-cents."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    two = nat.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = sup.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sk"),
    ).select("s_suppkey", "supp_nation")
    c = cust.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("ck"),
    ).select("c_custkey", "cust_nation")
    joined = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(c, orders["o_custkey"] == c["c_custkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("l_year"),
            _rev_centicents().alias("rev"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev").cast("long").alias("revenue_centicents"))
    )


@query(
    "j19_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           CAST(SUM({_REV_CENTICENTS_SQL}) AS BIGINT) AS revenue_centicents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-10-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, acctbal_cents
    ORDER BY revenue_centicents DESC, c.c_custkey
    LIMIT 20
    """,
)
def j19_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: the 20 customers who
    returned the most revenue in one quarter, decorated with nation.
    The returnflag filter prunes lineitem and the quarter filter
    prunes orders, both at the scan; nation broadcasts; the top-20
    over the grouped result is TakeOrderedAndProject (k rows per
    partition, never a global sort). Deterministic tie-break on
    custkey; all money exact BIGINT."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-10-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    grouped = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .agg(F.sum(_rev_centicents()).cast("long").alias("revenue_centicents"))
    )
    return grouped.orderBy(F.desc("revenue_centicents"), "c_custkey").limit(20)


@query(
    "a19_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(value_cents) AS total FROM pv)
    SELECT l_partkey AS p_partkey, value_cents
    FROM pv, tot
    WHERE value_cents * 2000 > total
    """,
)
def a19_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — groups above a scalar-subquery threshold:
    parts whose traded value exceeds 1/2000 of the total (the
    partsupp-less analog of 'important stock'). The grand total joins
    back as a 1-row broadcast, never re-aggregating per group, and the
    threshold compare is integer cross-multiplication (value·2000 >
    total) — no float division to diverge cross-engine. Two shuffles
    total: the per-part rollup and the 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    val = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
    )
    pv = li.groupBy("l_partkey").agg(F.sum(val).cast("long").alias("value_cents"))
    tot = pv.agg(F.sum("value_cents").alias("total"))
    return (
        pv.crossJoin(F.broadcast(tot))
        # decimal(38,0) so value·2000 cannot wrap at high SF (DuckDB
        # evaluates the same compare in HUGEINT).
        .filter(F.col("value_cents").cast("decimal(38,0)") * 2000 > F.col("total"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
    )


@query(
    "j22_top_supplier",
    f"""
    WITH r AS (
      SELECT l_suppkey, CAST(SUM({_REV_CENTICENTS_SQL}) AS BIGINT) AS total_cc
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_cc AS revenue_centicents
    FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_cc = (SELECT MAX(total_cc) FROM r)
    """,
)
def j22_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — groups equal to the MAX of an aggregated
    view: the top revenue supplier(s) for one quarter. The revenue
    view computes once and feeds both its own MAX (a 1-row broadcast
    scalar) and the equality filter — persisted across the two
    consumers, exactly the view-reuse the original expresses with
    CREATE VIEW. Exact integer revenue makes 'equals the max'
    well-defined cross-engine (float revenue ties would be
    engine-dependent); genuine ties all return, as in the spec."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    r = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1998-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_centicents()).cast("long").alias("total_cc"))
    )
    # The MAX side re-runs the (filtered, small) rollup rather than
    # persisting it: a lazy plan keeps the join shapes visible to the
    # plan audit (an eager checkpoint here audited as zero joins), and
    # matches the sibling 1-row-scalar queries (a19, dq_* ).
    mx = r.agg(F.max("total_cc").alias("mx"))
    return (
        r.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cc") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_cc").alias("revenue_centicents"))
    )


@query(
    "j23_small_qty_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
    JOIN (SELECT l_partkey, AVG(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
)
def j23_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated AVG subquery: revenue from
    small-quantity lines of one brand's parts, 'small' meaning under
    20% of that part's average order quantity. The per-part AVG is a
    grouped rollup joined back on partkey (one execution), never a
    re-run subquery per row. Quantities are integer-valued doubles, so
    SUM/COUNT — and hence AVG and the 0.2·avg compare — are exact and
    engine-identical. The brand filter broadcast-semi-prunes BOTH the
    avg rollup and the probe side, so the per-part aggregate never
    computes for parts that cannot reach the output."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    pruned = li.join(
        F.broadcast(brand_parts), li["l_partkey"] == F.col("p_partkey"), "left_semi"
    )
    avg_qty = pruned.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        pruned.join(F.broadcast(avg_qty), pruned["l_partkey"] == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# --------------------------------------------------- E3 product quantization


def _pq_code_exprs(alias: str = "e.embedding") -> list[str]:
    """Per-subspace argmin code exprs over the literal codebooks."""
    books = sim.pq_codebooks()
    out = []
    for s, book in enumerate(books):
        sub_dim = len(book[0])
        ds = []
        for c in book:
            sq = 0.0
            for x in c:
                sq += x * x
            ds.append(f"(-2.0 * {_duck_dot_off(alias, c, s * sub_dim)} + {_dlit(sq)})")
        arr = "[" + ", ".join(ds) + "]"
        out.append(f"CAST(list_position({arr}, list_min({arr})) - 1 AS INT) AS code_{s}")
    return out


def _pq_adc_sql(k: int = 10) -> str:
    """Strong oracle for PQ-ADC top-k: encoding (per-subspace argmin
    over the SAME literal codebooks), the query-side lookup tables
    (computed by the same sequential fold over the data-derived query
    vector), and the m-term ADC sum are all re-expressed in DuckDB."""
    books = sim.pq_codebooks()
    terms = _adc_lut_terms(books)
    approx = " + ".join(terms)
    code_list = ", ".join(f"code_{s}" for s in range(len(books)))
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    codes AS (SELECT e.vec_id, {', '.join(_pq_code_exprs())} FROM embeddings e),
    scored AS (SELECT c.vec_id, {code_list}, {approx} AS approx_l2
               FROM codes c, q)
    SELECT vec_id, {code_list}, ROUND(approx_l2, 6) AS approx_l2
    FROM scored ORDER BY scored.approx_l2, vec_id LIMIT {k}
    """


@query("e3_pq_adc_topk", _pq_adc_sql())
def e3_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — product-quantization ANN (FAISS IVFADC's scoring half,
    Jégou et al. 2011): vectors compress to m=4 subspace codes against
    fixed literal codebooks; the query stays exact and scores stored
    codes through per-subspace lookup tables (ADC), top-10 by the
    summed approximate distance. Every stage — encoding argmin, LUT
    construction, m-term sum, ordering — is deterministic given the
    literals, so the full PQ pipeline is STRONG-oracle-checked.
    Scale: the scanned index is m small ints per vector (16× narrower
    than the raw floats here), no per-row folds at query time, and the
    same codes serve every query — the artifact a 100 TB ANN store
    materializes once."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    books = sim.pq_codebooks()
    out = sim.pq_adc_topk(emb, qv, books, k=10)
    code_cols = [f"code_{s}" for s in range(len(books))]
    return out.select(
        "vec_id", *code_cols, F.round("approx_l2", 6).alias("approx_l2")
    )


@query(
    "e3_pq_code_histogram",
    f"""
    WITH codes AS (SELECT e.vec_id, {', '.join(_pq_code_exprs())}
                   FROM embeddings e)
    SELECT code_0, code_1, code_2, code_3,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM codes GROUP BY code_0, code_1, code_2, code_3
    """,
)
def e3_pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — PQ code-cell occupancy: vectors per joint code word. The
    balance diagnostic for a PQ index (one dominant cell ⇒ codebooks
    don't span the data ⇒ ADC can't discriminate — the check run
    after every codebook (re)fit). Encoding is the same one-pass
    zero-shuffle projection; the histogram shuffles 4 ints per
    vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.pq_codebooks()
    codes = sim.pq_encode(emb, books)
    return codes.groupBy(*[f"code_{s}" for s in range(len(books))]).agg(
        F.count("*").cast("long").alias("n_vectors")
    )


def _ivfadc_sql(k: int = 10) -> str:
    """Strong oracle for the composed IVFADC cascade: the coarse-probe
    and cluster-assignment CTEs of `_ivf_topk_sql` feed the PQ
    code/LUT machinery of `_pq_adc_sql` — every stage over the same
    shared literals."""
    cents = _kmeans_literal_centroids()
    books = sim.pq_codebooks()
    dists, arr, qarr = _centroid_dist_arrays(cents)
    terms = _adc_lut_terms(books)
    approx = " + ".join(terms)
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT list_position({qarr}, list_min({qarr})) - 1 AS pc FROM q),
    d AS (SELECT vec_id, embedding, {', '.join(dists)} FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 list_position({arr}, list_min({arr})) - 1 AS cluster
          FROM d),
    codes AS (SELECT e.vec_id, e.cluster, {', '.join(_pq_code_exprs())}
              FROM a e),
    scored AS (SELECT c.vec_id, {approx} AS approx_l2
               FROM codes c, q, probe WHERE c.cluster = probe.pc)
    SELECT vec_id, ROUND(approx_l2, 6) AS approx_l2
    FROM scored ORDER BY scored.approx_l2, vec_id LIMIT {k}
    """


@query("e3_ivfadc_topk", _ivfadc_sql())
def e3_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — the full FAISS IVFADC cascade composed from proven parts:
    coarse probe (nearest literal k-means centroid to the query) →
    cell pruning (only the probed cluster's vectors survive — at
    scale, partition pruning on a cluster-partitioned index) → ADC
    scoring of the survivors' PQ codes → top-10. Query-time cost is
    |cell|/N of the corpus scanned, at m lookup-adds per row instead
    of a d-element float fold — the two multiplicative savings an ANN
    index stacks. Probe, assignment, encoding, LUTs and the ADC sum
    are all deterministic over shared literals, so the COMPOSED
    cascade strong-oracle-checks end-to-end, not just its stages."""
    from train_reports_etl_spark.extensions.clustering import _assign

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cents = _kmeans_literal_centroids()
    probe = _probe_centroid(qv, cents)
    cell = (
        _assign(emb, cents, "vec_id", "embedding")
        .filter(F.col("cluster") == probe)
        .drop("cluster")
    )
    out = sim.pq_adc_topk(cell, qv, sim.pq_codebooks(), k=10)
    return out.select("vec_id", F.round("approx_l2", 6).alias("approx_l2"))


@query(
    "a20_price_qty_correlation",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)) AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS sy,
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS sxy,
             SUM(CAST(ROUND(l_quantity) AS HUGEINT)
                 * CAST(ROUND(l_quantity) AS HUGEINT)) AS sxx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9)
             AS corr_qty_price
    FROM s
    """,
)
def a20_price_qty_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — exact Pearson correlation per group from integer moment
    sums: n, Σx, Σy, Σxy, Σx², Σy² accumulate as exact wide integers
    (decimal(38,0) here, HUGEINT in the oracle — Σcents² exceeds
    int64 already at sf0.1), then ONE closed-form float expression at
    the end. Engine-native CORR is a float recursion whose
    accumulation order differs per engine/partitioning (Welford vs
    naive, merge order) — it can never hash-check and is not even
    run-to-run stable at scale; moment sums are associative integer
    math, identical under any partitioning, and the final
    exact-int→double→sqrt/divide chain is the same IEEE expression on
    both engines. One map-side-combined aggregate, 3-group shuffle.
    The same trick w9's windowed stddev uses, generalized to the
    bivariate moment."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("sx"),
        F.sum(y).cast("decimal(38,0)").alias("sy"),
        F.sum(x * y).cast("decimal(38,0)").alias("sxy"),
        F.sum(x * x).cast("decimal(38,0)").alias("sxx"),
        F.sum(y * y).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / (dx * dy), 9).alias("corr_qty_price"),
    )


@query(
    "w17_last_touch_attribution",
    """
    WITH attributed AS (
      SELECT event_id, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events)
    SELECT COALESCE(channel, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, 'direct')
    """,
)
def w17_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 — last-touch attribution: each purchase credits the user's
    most recent PRECEDING non-purchase event type ('direct' when the
    purchase is the user's first event). The conversion-credit query
    behind every marketing/ops channel report — a different shape
    from the funnel (w7: ordered stage minima) and the transition
    matrix (w12: adjacent pairs): here the attributed event may be
    arbitrarily far back, which is exactly what LAST_VALUE(... IGNORE
    NULLS) over an unbounded-preceding frame expresses without a
    self-join. One shuffle by user_id serves the window; ordering is
    total (ts, event_id) so credit assignment is deterministic; the
    purchase filter applies AFTER the window (the frame must see all
    events) but the groupBy then shuffles only purchase rows."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_id", "event_type", channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(F.count("*").cast("long").alias("n_purchases"))
    )


def _hamming_pair_sql(max_hamming: int = 7, scheme: str = "auto") -> str:
    """DuckDB twin of simhash60_table + hamming_pairs_64: 60-bit
    per-token hash60 SimHash, then pigeonhole candidate join and exact
    popcount verify. 60-bit values are non-negative, so DuckDB's
    arithmetic >> equals Spark's shiftrightunsigned. ``scheme``
    mirrors the Spark operator: ``single`` buckets on 8-bit chunks,
    ``paired`` on all C(8,2) 16-bit chunk-pair concatenations
    (lossless for d <= 6), ``mih`` on 4x16-bit pieces with radius-1
    probe-side variant enumeration (lossless for d <= 7). Defaults and
    validation come from the SAME ``resolve_hamming_scheme`` the Spark
    twin uses, so equal arguments always describe equal relations —
    defaults can't drift apart."""
    from train_reports_etl_spark.extensions.multimodal import resolve_hamming_scheme
    from train_reports_etl_spark.extensions.sketches import hash60_sql

    scheme = resolve_hamming_scheme(max_hamming, scheme)
    if scheme == "mih":
        # Multi-Index Hashing: probe side enumerates each 16-bit
        # piece's 17 radius-1 variants, index side keeps exact piece
        # values — the same asymmetric join as the Spark operator.
        flips = ", ".join(str(f) for f in [0] + [1 << b for b in range(16)])
        key_cte = f""",
    ks AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
    fs AS (SELECT UNNEST([{flips}]) AS f),
    probe AS (
      SELECT doc_id, h, k, xor((h >> (16 * k)) & 65535, f) AS cv
      FROM sh CROSS JOIN ks CROSS JOIN fs),
    idx AS (
      SELECT doc_id, h, k, (h >> (16 * k)) & 65535 AS cv
      FROM sh CROSS JOIN ks)"""
        join_cte = """,
    cands AS (
      SELECT a.doc_id AS id_a, a.h AS ha, b.doc_id AS id_b, b.h AS hb
      FROM probe a
      JOIN idx b ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)"""
    else:
        if scheme == "single":
            key_cte = """,
    ks AS (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS k),
    chunks AS (
      SELECT doc_id, h, k, (h >> (8 * k)) & 255 AS cv FROM sh CROSS JOIN ks)"""
        else:  # "paired" — resolve_hamming_scheme guarantees the choice
            combos = [(i, j) for i in range(8) for j in range(i + 1, 8)]
            klist = ", ".join(str(c) for c in range(len(combos)))
            ilist = ", ".join(str(i) for i, _ in combos)
            jlist = ", ".join(str(j) for _, j in combos)
            # Parallel UNNESTs of equal-length lists zip positionally.
            key_cte = f""",
    ks AS (SELECT UNNEST([{klist}]) AS k,
                  UNNEST([{ilist}]) AS i,
                  UNNEST([{jlist}]) AS j),
    chunks AS (
      SELECT doc_id, h, k,
             ((h >> (8 * i)) & 255) * 256 + ((h >> (8 * j)) & 255) AS cv
      FROM sh CROSS JOIN ks)"""
        join_cte = """,
    cands AS (
      SELECT a.doc_id AS id_a, a.h AS ha, b.doc_id AS id_b, b.h AS hb
      FROM chunks a
      JOIN chunks b ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)"""
    return _simhash_body_sql(60, hash60_sql("t"), "BIGINT", "h") + key_cte + join_cte + f"""
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cands WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


def _shared_simhash60_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, simhash60) signature table — shared by the
    two Hamming-join gate queries (pair d=6 and MIH d=7), which
    otherwise each re-ran the 60-bit explode/hash/60-sum aggregate
    (r10; same write-once-signature design as winnow_fps — see
    extensions/store.py), and by the 16-bit SimHash rows through
    :func:`_shared_simhash_table`."""
    from train_reports_etl_spark.extensions.store import shared
    from train_reports_etl_spark.extensions.text import simhash60_table

    return shared(
        spark,
        sf_dir,
        "simhash60",
        lambda: simhash60_table(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
    )


@query("e6_hamming_pair_join", _hamming_pair_sql(6))
def e6_hamming_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — STRONG-oracle coverage for the perceptual near-dup pair
    pipeline (the decomposition that upgraded the k-means fit): the
    numpy DCT pHash itself is not SQL-expressible (rows-only +
    pytest-pinned in e6_phash_near_dup), but the candidate + verify
    stages — pigeonhole bucket join, dedup, xor + popcount Hamming
    filter — are pure integer relational algebra. Run EXACTLY that
    code path (``multimodal.hamming_pairs_64``) over a SQL-derivable
    60-bit SimHash of the documents, so the gate hash-checks every
    stage the pHash query executes downstream of the hash column.
    Runs the 100 TB scheme — chunk-PAIR buckets at d <= 6 (key space
    28x65,536, quadratic candidate constant down 256x vs single-chunk;
    SCALING.md round-6 notes) — against a chunk-pair oracle twin; the
    single-chunk scheme stays pinned by the brute-force equivalence
    test (tests/test_round6_ops.py)."""
    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64

    return hamming_pairs_64(
        _shared_simhash60_table(spark, sf_dir),
        id_col="doc_id",
        hash_col="simhash60",
        max_hamming=6,
    )


@query("e6_hamming_mih_join", _hamming_pair_sql(7, "mih"))
def e6_hamming_mih_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — STRONG-oracle coverage for the Multi-Index Hashing scheme
    at the distance where it is the only subquadratic-constant option
    (d = 7, ``paired``'s >= 2-equal-chunks pigeonhole fails): the same
    decomposition as ``e6_hamming_pair_join``, run at max_hamming=7
    with ``scheme="mih"`` against a DuckDB twin that shares
    ``resolve_hamming_scheme`` and reproduces the asymmetric
    probe-variants x exact-index join in SQL. This is the scheme
    ``e6_phash_near_dup`` (rows-only by nature) executes at its
    default d=7 — measured 8.7x faster than single-chunk at 165k hashes (323 -> 37 s,
    SCALING.md round-7). Args passed EXPLICITLY on both sides per the
    shared-defaults rule."""
    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64

    return hamming_pairs_64(
        _shared_simhash60_table(spark, sf_dir),
        id_col="doc_id",
        hash_col="simhash60",
        max_hamming=7,
        scheme="mih",
    )


# ------------------------------------------------------------ store prebuild

def prebuild_shared_stores(
    spark: SparkSession, sf_dir: str, probe=None, probes_out: list | None = None
) -> dict[str, float]:
    """Materialize every cross-query signature store, timed per store.

    bench.py calls this before the suite so first-touch cost lands in
    dedicated ``store:<name>`` rows instead of migrating between
    whichever consumer query happens to run first (r05: the shared
    winnow-cluster build moved e1_dedup_provenance from 1.3 s to 6.1 s
    on a different consumer order). At 100 TB these are the tables a
    pipeline writes once next to the corpus; charging them separately
    is also the honest accounting of that design.

    ``probe``/``probes_out`` (VERDICT r09 #3): stores build ONCE, so
    they cannot be medianed over burst-filtered passes like queries —
    instead a host-speed probe (bench.py's fixed-work microbench) runs
    at every store BOUNDARY and the values land in ``probes_out``
    (len = n_stores + 1; store i is bracketed by probes i and i+1).
    bench.py turns those into per-store clean/dirty verdicts, making a
    host burst during a store build measured rather than inferred.
    """
    import time as _time

    from train_reports_etl_spark.extensions.clustering import quantize_vectors
    from train_reports_etl_spark.extensions.store import shared

    builders: dict[str, object] = {
        "simhash60": lambda: _shared_simhash60_table(spark, sf_dir),
        "phash64": lambda: _shared_phash_table(spark, sf_dir),
        "winnow_fps": lambda: _shared_winnow_fps(spark, sf_dir),
        "winnow_pair_graph": lambda: _winnow_pairs(spark, sf_dir),
        "winnow_dedup_clusters": lambda: _shared_winnow_clusters(spark, sf_dir),
        "int8_codes_255": lambda: _shared_quantized_codes(spark, sf_dir),
        "shingle_posting_w3": lambda: _shared_shingle_posting(spark, sf_dir),
        # AFTER shingle_posting_w3: reads that cache, so build order
        # keeps each store row's timing attributed to its own work.
        "jaccard_pairs_w3_t05": lambda: _shared_jaccard_pairs(spark, sf_dir),
        "minhash_sigs_portable": lambda: _shared_portable_minhash_sigs(spark, sf_dir),
        "kmeans_vq": lambda: shared(
            spark,
            sf_dir,
            "kmeans_vq",
            lambda: quantize_vectors(load_table(spark, sf_dir, "embeddings")),
        ),
    }
    timings: dict[str, float] = {}
    if probe is not None and probes_out is not None:
        probes_out.append(probe())
    for name, build in builders.items():
        t0 = _time.time()
        # count() forces the persisted frame to materialize now; the
        # stores are MEMORY_AND_DISK so consumers then read the cache.
        # Per-store try/except: one failing build must not discard the
        # timings of stores already built (they ARE persisted, so the
        # consumer medians would silently exclude their build cost).
        try:
            build().count()
            timings[name] = round(_time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 — surface as a failed row
            import sys as _sys

            timings[name] = -1.0
            print(f"store prebuild {name} failed: {e}", file=_sys.stderr)
        if probe is not None and probes_out is not None:
            probes_out.append(probe())
    return timings


# ------------------------------------------- round 8: LM filter + PageRank

_TRIGRAM_LM_KEEP_MB = 7800  # fixed gate: drop the worst ~10% tail


def _trigram_lm_sql(train_mod: int = 10, train_keep: int = 8) -> str:
    """DuckDB twin of char_trigram_lm_millibits + the keep gate. The
    only floats are log2/÷ on identical exact rationals; the output
    rounds to integer millibits, so the value hash compares longs."""
    return f"""
    WITH tris AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri
      FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
            FROM documents WHERE length(text) >= 3)),
    counts AS (
      SELECT tri, CAST(COUNT(*) AS BIGINT) AS c
      FROM tris WHERE doc_id % {train_mod} < {train_keep} GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM counts),
    per_doc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             SUM(-log2(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE))) AS s1
      FROM tris t LEFT JOIN counts c ON c.tri = t.tri
      GROUP BY 1),
    scored AS (
      SELECT doc_id, n_trigrams,
             CAST(ROUND(1000.0
                        * (s1 + n_trigrams * log2(CAST(tot.total + tot.vocab + 1 AS DOUBLE)))
                        / n_trigrams) AS BIGINT) AS millibits_per_trigram
      FROM per_doc CROSS JOIN tot)
    SELECT doc_id, n_trigrams, millibits_per_trigram,
           doc_id % {train_mod} >= {train_keep} AS is_heldout,
           millibits_per_trigram <= {_TRIGRAM_LM_KEEP_MB} AS keep
    FROM scored
    """


@query("e4_trigram_lm_perplexity", _trigram_lm_sql())
def e4_trigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — perplexity quality filter (CCNet, Wenzek et al. LREC'20):
    fit an add-one-smoothed char-trigram LM on the deterministic train
    split (doc_id % 10 < 8), score EVERY document's mean −log2 p per
    trigram in integer millibits, and gate at a fixed threshold — the
    classic "drop what the trusted-text LM finds surprising" stage of
    a training-data pipeline. Model is charset³-bounded → broadcast
    scoring join; corpus shuffles trigram keys exactly once (train
    counts, map-combined). No reference citation — new scope beyond
    SURVEY.md §2.11."""
    from train_reports_etl_spark.extensions.text import char_trigram_lm_millibits

    docs = load_table(spark, sf_dir, "documents")
    scored = char_trigram_lm_millibits(docs)
    return scored.select(
        "doc_id",
        "n_trigrams",
        "millibits_per_trigram",
        ((F.col("doc_id") % 10) >= 8).alias("is_heldout"),
        (F.col("millibits_per_trigram") <= _TRIGRAM_LM_KEEP_MB).alias("keep"),
    )


def _pagerank_sql(iters: int = 5, scale: int = 10**12, d: int = 85) -> str:
    """Unrolled-CTE DuckDB twin of graph.pagerank over the winnow
    near-dup edge set. Integer-only per iteration (// floors the
    non-negative ranks), so Spark's shuffle order cannot move a bit."""
    body = _winnow_ctes() + """,
    pairs AS (
      SELECT a.id AS u, b.id AS v
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    pr0 AS (
      SELECT doc_id AS node, CAST({scale} // nn.n AS BIGINT) AS rank
      FROM documents CROSS JOIN nn)""".format(scale=scale)
    for t in range(1, iters + 1):
        body += """,
    pr{t} AS (
      SELECT d0.doc_id AS node,
             CAST({base_num} // (100 * nn.n)
                  + ({d} * COALESCE(g.contrib, 0)) // 100 AS BIGINT) AS rank
      FROM documents d0 CROSS JOIN nn
      LEFT JOIN (
        SELECT e.v AS node, CAST(SUM(p.rank // dg.deg) AS BIGINT) AS contrib
        FROM edges e JOIN pr{prev} p ON p.node = e.u JOIN deg dg ON dg.u = e.u
        GROUP BY 1) g ON g.node = d0.doc_id)""".format(
            t=t, prev=t - 1, d=d, base_num=(100 - d) * scale
        )
    return body + f"\n    SELECT node, rank FROM pr{iters}\n    "


@query("e8_pagerank", _pagerank_sql())
def e8_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — PageRank (5 power iterations, d=0.85) over the shared
    winnow near-dup graph: centrality of each document in the
    duplication structure (high rank = template/boilerplate hub worth
    inspecting before dedup keeps one copy). Exact fixed-point INTEGER
    arithmetic end-to-end, so this iterative algorithm gets a strong
    value-hash oracle instead of the rows-only downgrade floats would
    force. No reference citation — new scope beyond SURVEY.md §2.11."""
    from train_reports_etl_spark.extensions.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    edges = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return pagerank(edges, docs.select("doc_id"), iters=5)


def _link_prediction_sql(top_k: int = 100) -> str:
    """DuckDB twin of graph.link_prediction over the top-2-successor
    word-association graph. Integer counts; jaccard_milli is ONE
    correctly-rounded IEEE division per row (never a float SUM), so
    the hash is strong."""
    return f"""
    WITH toked AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
    big AS (
      SELECT UNNEST(list_transform(range(1, LEN(toks)),
                                   i -> [toks[i], toks[i+1]])) AS bg
      FROM toked WHERE LEN(toks) >= 2),
    bgc AS (
      SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n
      FROM big WHERE bg[1] <> bg[2] GROUP BY 1, 2),
    ranked AS (
      SELECT w1, w2,
             ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rk
      FROM bgc),
    pairs AS (
      SELECT DISTINCT LEAST(w1, w2) AS u, GREATEST(w1, w2) AS v
      FROM ranked WHERE rk <= 2),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    cand AS (
      SELECT s1.v AS a, s2.v AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      GROUP BY 1, 2),
    nonadj AS (
      SELECT c.a, c.b, c.cn FROM cand c
      LEFT JOIN pairs p ON p.u = c.a AND p.v = c.b
      WHERE p.u IS NULL)
    SELECT n.a AS node_a, n.b AS node_b, n.cn AS common_neighbors,
           da.d + db.d - n.cn AS union_neighbors,
           CAST(ROUND(1000.0 * n.cn / (da.d + db.d - n.cn)) AS BIGINT)
             AS jaccard_milli
    FROM nonadj n
    JOIN deg da ON da.u = n.a
    JOIN deg db ON db.u = n.b
    ORDER BY n.cn DESC, node_a, node_b
    LIMIT {top_k}
    """


@query("e8_link_prediction", _link_prediction_sql())
def e8_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — common-neighbor / Jaccard link prediction, run over the
    corpus's dominant-transition word skeleton: each token keeps its
    top-2 successors by bigram count (ties by word — a total order),
    directions collapse, and link_prediction returns the top-100
    NON-adjacent word pairs ranked by shared neighborhood — the
    second-order associations (words sharing dominant contexts that
    never directly follow each other).

    Graph choice: prediction needs OPEN wedges. The winnow near-dup
    graph is a disjoint union of cliques at gate scale (duplicates
    share fingerprints transitively — every neighborhood closed, zero
    candidates), and the co-occurrence graphs over this synthetic
    corpus are COMPLETE (31-token closed vocabulary). Rank-based
    top-k edge selection is the scale-invariant sparsifier: degree
    ≤ 2 out-edges per node by construction at ANY corpus size
    (verified ~58 edges / ~145 open candidates at sf0.001/0.01/0.1),
    where every count/relative threshold measured either complete or
    empty. The core operator is graph-agnostic
    (graph.link_prediction, unit-tested on arbitrary edge lists) —
    near-dup users point it at their pair graph. Scores integer-exact
    (strong oracle). No reference citation — new scope beyond
    SURVEY.md §2.11."""
    from train_reports_etl_spark.extensions.graph import link_prediction
    from train_reports_etl_spark.extensions.text import tokens
    from train_reports_etl_spark.util import repartition_if_coarse

    # the bigram explode + partial count fuse into the scan stage, so a
    # coarse scan (single-row-group parquet) serializes the whole
    # linear pass — same guard as the trigram LM (x30: 10.6 s → ~4 s)
    docs = repartition_if_coarse(
        load_table(spark, sf_dir, "documents"), min_rows=10_000
    )
    toked = docs.select(tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toked.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> named_struct('w1', toks[i-1], 'w2', toks[i]))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bgc = (
        bg.filter(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("w1").orderBy(F.desc("n"), "w2")
    edges = (
        bgc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            F.least("w1", "w2").alias("u"), F.greatest("w1", "w2").alias("v")
        )
        .distinct()
    )
    return link_prediction(edges, top_k=100)


def _mattr_sql(window: int = 20) -> str:
    """DuckDB twin of text.mattr_lexical_diversity. Integer counts;
    mattr_milli is ONE correctly-rounded IEEE division per row."""
    w = window
    return f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    wins AS (
      SELECT doc_id,
             CAST(LEN(toks) AS BIGINT) AS n_tokens,
             CASE WHEN LEN(toks) >= {w}
                  THEN list_transform(range(1, LEN(toks) - {w} + 2),
                                      i -> LEN(list_distinct(toks[i:i+{w - 1}])))
                  ELSE [LEN(list_distinct(toks))] END AS win_types
      FROM toked WHERE LEN(toks) >= 1)
    SELECT doc_id,
           n_tokens,
           CAST(LEN(win_types) AS BIGINT) AS n_windows,
           CAST(list_sum(win_types) AS BIGINT) AS sum_window_types,
           CAST(ROUND(1000.0 * list_sum(win_types)
                      / (CASE WHEN n_tokens >= {w}
                              THEN {w} * LEN(win_types)
                              ELSE n_tokens END)) AS BIGINT) AS mattr_milli
    FROM wins
    """


@query("e4_mattr_diversity", _mattr_sql())
def e4_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — MATTR lexical diversity per document (window=20): the
    length-unbiased type-token ratio quality signal (plain TTR decays
    with doc length, so thresholding it filters long docs; the moving
    window doesn't). Integer-exact columns + one ROUND division give
    it a strong value-hash oracle; the whole computation is per-row
    codegen with zero shuffles — see text.mattr_lexical_diversity for
    the scale story. No reference citation — new scope beyond
    SURVEY.md §2.11."""
    from train_reports_etl_spark.extensions.text import mattr_lexical_diversity

    docs = load_table(spark, sf_dir, "documents")
    return mattr_lexical_diversity(docs, window=20)


# ------------------------------------------------------------------ E73

def _linkage_sql(select: str) -> str:
    """Shared DuckDB CTE chain mirroring extensions/linkage.py exactly:
    deterministic dirty replica -> two-pass blocking union -> agreement
    vector -> integer milli-bit Fellegi-Sunter score -> decision."""
    return f"""
    WITH clean AS (
      SELECT CAST(c_custkey AS BIGINT) AS link_id, c_name AS name,
             CAST(c_nationkey AS BIGINT) AS nation,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
             c_mktsegment AS segment
      FROM customer),
    dirty AS (
      SELECT CAST(c_custkey + 1000000 AS BIGINT) AS link_id,
             CASE c_custkey % 4
               WHEN 1 THEN translate(c_name, 'abcdefghijklmnopqrstuvwxyz',
                                             'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
               WHEN 2 THEN substring(c_name, 1, length(c_name) - 1)
               WHEN 3 THEN replace(c_name, '#', '-')
               ELSE c_name END AS name,
             CAST(c_nationkey AS BIGINT) AS nation,
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
               + (c_custkey % 7) - 3 AS bal_cents,
             CASE WHEN c_custkey % 10 = 0 THEN 'UNKNOWN'
                  ELSE c_mktsegment END AS segment
      FROM customer),
    lt AS (
      SELECT link_id AS a,
             CAST(nation AS VARCHAR) || '|' ||
               CAST((bal_cents - (bal_cents % 10000)) // 10000 AS VARCHAR)
               AS block_n,
             substring(regexp_replace(name, '[^0-9]', '', 'g'), 5, 4) AS block_d
      FROM clean),
    rt AS (
      SELECT link_id AS b,
             CAST(nation AS VARCHAR) || '|' ||
               CAST((bal_cents - (bal_cents % 10000)) // 10000 AS VARCHAR)
               AS block_n,
             substring(regexp_replace(name, '[^0-9]', '', 'g'), 5, 4) AS block_d
      FROM dirty),
    sizes AS (
      SELECT k FROM (
        SELECT block_n AS k FROM lt UNION ALL SELECT block_n FROM rt)
      GROUP BY k HAVING COUNT(*) <= 1000),
    pairs AS (
      SELECT a, b
      FROM (SELECT a, block_n FROM lt JOIN sizes ON lt.block_n = sizes.k) l
      JOIN (SELECT b, block_n FROM rt JOIN sizes ON rt.block_n = sizes.k) r
        USING (block_n)
      UNION
      SELECT a, b FROM lt JOIN rt USING (block_d)),
    scored0 AS (
      SELECT p.a, p.b,
             CAST(l.name = r.name AS INT) AS name_eq,
             CAST(regexp_replace(l.name, '[^0-9]', '', 'g')
                = regexp_replace(r.name, '[^0-9]', '', 'g') AS INT) AS digits_eq,
             CAST(substring(regexp_replace(l.name, '[^0-9]', '', 'g'), 1, 8)
                = substring(regexp_replace(r.name, '[^0-9]', '', 'g'), 1, 8)
                AS INT) AS digprefix_eq,
             CAST(abs(l.bal_cents - r.bal_cents) <= 3 AS INT) AS bal_eq,
             CAST(l.segment = r.segment AS INT) AS seg_eq,
             CAST(l.nation = r.nation AS INT) AS nation_eq
      FROM pairs p JOIN clean l ON p.a = l.link_id
                   JOIN dirty r ON p.b = r.link_id),
    scored AS (
      SELECT a, b,
             name_eq || '' || digits_eq || '' || digprefix_eq || '' || bal_eq
               || '' || seg_eq || '' || nation_eq AS pattern,
             CAST(CASE name_eq WHEN 1 THEN 3800 ELSE -1200 END
               + CASE digits_eq WHEN 1 THEN 5200 ELSE -900 END
               + CASE digprefix_eq WHEN 1 THEN 2600 ELSE -700 END
               + CASE bal_eq WHEN 1 THEN 1500 ELSE -800 END
               + CASE seg_eq WHEN 1 THEN 700 ELSE -300 END
               + CASE nation_eq WHEN 1 THEN 460 ELSE -150 END
               AS BIGINT) AS weight_mb
      FROM scored0),
    decided AS (
      SELECT a, b, pattern, weight_mb,
             CASE WHEN weight_mb >= 6000 THEN 'match'
                  WHEN weight_mb >= 2100 THEN 'possible'
                  ELSE 'non_match' END AS decision
      FROM scored)
    {select}
    """


@query(
    "e73_record_linkage_pairs",
    _linkage_sql(
        "SELECT a, b, pattern, weight_mb, decision FROM decided"
        " WHERE decision <> 'non_match'"
    ),
)
def e73_record_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E73 — Fellegi-Sunter record linkage: the clean customer table
    against its deterministic dirty replica, all match/possible pairs
    with the agreement pattern and integer milli-bit weight. Output is
    bounded by the decision predicate (non-matches, the overwhelming
    bulk of the blocked pair space, never leave the cluster). See
    extensions/linkage.py for the blocking/scoring scale story."""
    from train_reports_etl_spark.extensions.linkage import link_customers

    cust = load_table(spark, sf_dir, "customer")
    scored = link_customers(cust)
    return scored.filter(F.col("decision") != "non_match").select(
        "a", "b", "pattern", "weight_mb", "decision"
    )


@query(
    "e73_linkage_confusion",
    _linkage_sql(
        """
    SELECT decision, (b - 1000000 = a) AS is_true_match,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(weight_mb) AS BIGINT) AS min_weight_mb,
           CAST(MAX(weight_mb) AS BIGINT) AS max_weight_mb
    FROM decided GROUP BY 1, 2"""
    ),
)
def e73_linkage_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E73 companion — the linkage quality report: pair counts and
    weight extents by (decision x is-true-match). Ground truth is free
    because the dirty replica's true partner is ``b - 1_000_000`` by
    construction — this is the synthetic-perturbation evaluation
    harness every production linker (Splink's `splink_datasets`)
    ships, expressed as one GROUP BY over the scored pairs."""
    from train_reports_etl_spark.extensions.linkage import link_customers

    cust = load_table(spark, sf_dir, "customer")
    scored = link_customers(cust)
    return scored.groupBy(
        "decision", (F.col("b") - 1000000 == F.col("a")).alias("is_true_match")
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("weight_mb").cast("long").alias("min_weight_mb"),
        F.max("weight_mb").cast("long").alias("max_weight_mb"),
    )


# ------------------------------------------------------------------ E74

_NOVELTY_POSTING_SQL = f"""
    toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    sets AS (
      SELECT id, {_SQL_SHINGLES} AS ws FROM toked),
    posting AS (
      SELECT id, UNNEST(ws) AS sh FROM sets)
"""


@query(
    "e74_novelty_per_doc",
    f"""
    WITH {_NOVELTY_POSTING_SQL},
    first AS (
      SELECT id, sh, MIN(id) OVER (PARTITION BY sh) AS first_seen
      FROM posting)
    SELECT id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_seen = id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST((SUM(CASE WHEN first_seen = id THEN 1 ELSE 0 END) * 1000000)
             // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM first GROUP BY 1
    """,
)
def e74_novelty_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E74 — per-document n-gram novelty ppm (fraction of a doc's
    distinct 3-grams first seen in THIS doc under id/ingestion order).
    See corpus.novelty_metrics for the two-shuffle scale story."""
    from train_reports_etl_spark.extensions.corpus import novelty_metrics

    docs = load_table(spark, sf_dir, "documents")
    return novelty_metrics(docs)


@query(
    "e74_accretion_curve",
    f"""
    WITH {_NOVELTY_POSTING_SQL},
    span AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS id_span FROM documents),
    per_gram AS (
      SELECT sh, MIN(id) AS first_seen FROM posting GROUP BY sh),
    bucketed AS (
      SELECT CAST((first_seen * 10) // id_span AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_new_grams
      FROM per_gram, span GROUP BY 1)
    SELECT bucket, n_new_grams,
           CAST(SUM(n_new_grams) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_grams,
           CAST((SUM(n_new_grams) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
             // (SUM(n_new_grams) OVER ()) AS BIGINT) AS cum_ppm
    FROM bucketed
    """,
)
def e74_accretion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E74 companion — corpus accretion curve in 10 id-range slices:
    new distinct grams per slice, cumulative, and cumulative ppm of
    the final vocabulary. See corpus.accretion_curve."""
    from train_reports_etl_spark.extensions.corpus import accretion_curve

    docs = load_table(spark, sf_dir, "documents")
    return accretion_curve(docs, buckets=10)


# ------------------------------------------------------------------ E75

def _label_prop_sql(iters: int = 3, seed_mod: int = 7) -> str:
    """Unrolled-CTE DuckDB twin of graph.label_propagation over the
    winnow near-dup edge set, seeds = (doc_id % seed_mod == 0 ->
    source). The mode tie-break (count DESC, label ASC) is a total
    order, so every iteration is a pure function of the previous
    frame — the hash is strong despite the algorithm being iterative."""
    body = _winnow_ctes() + f""",
    pairs AS (
      SELECT a.id AS u, b.id AS v
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    seeds AS (
      SELECT doc_id AS node, source AS seed_label FROM documents
      WHERE doc_id % {seed_mod} = 0),
    lab0 AS (
      SELECT d.doc_id AS node, s.seed_label AS label
      FROM documents d LEFT JOIN seeds s ON s.node = d.doc_id)"""
    for t in range(1, iters + 1):
        body += f""",
    mode{t} AS (
      SELECT v AS node, label AS mode_label FROM (
        SELECT e.v, p.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.v
                 ORDER BY COUNT(*) DESC, p.label ASC) AS rn
        FROM edges e JOIN lab{t - 1} p ON p.node = e.u
        WHERE p.label IS NOT NULL
        GROUP BY e.v, p.label)
      WHERE rn = 1),
    lab{t} AS (
      SELECT d.doc_id AS node, COALESCE(s.seed_label, m.mode_label) AS label
      FROM documents d
      LEFT JOIN seeds s ON s.node = d.doc_id
      LEFT JOIN mode{t} m ON m.node = d.doc_id)"""
    return body + f"""
    SELECT l.node, l.label, (s.node IS NOT NULL) AS is_seed
    FROM lab{iters} l LEFT JOIN seeds s ON s.node = l.node
    """


@query("e75_label_propagation", _label_prop_sql())
def e75_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E75 — seed-clamped label propagation (3 synchronous rounds)
    over the shared winnow near-dup graph: every 7th document is a
    trusted seed labeled with its source; near-duplicate neighborhoods
    inherit labels by exact neighbor-mode with a total-order
    tie-break. The cheap label-spreading stage a curation pipeline
    runs before training a classifier — see graph.label_propagation
    for semantics and the per-iteration scale shape. No reference
    citation — new scope beyond SURVEY.md §2.11."""
    from train_reports_etl_spark.extensions.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents")
    edges = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    seeds = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("node"), F.col("source").alias("seed_label")
    )
    return label_propagation(edges, seeds, docs.select("doc_id"), iters=3)


# ------------------------------------------------------------------ E76

@query(
    "e76_isotonic_calibration",
    """
    WITH bins AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events GROUP BY 1),
    cum AS (
      SELECT bin, w, pos,
             SUM(w) OVER (ORDER BY bin) AS cw,
             SUM(pos) OVER (ORDER BY bin) AS cs,
             ROW_NUMBER() OVER (ORDER BY bin) AS i
      FROM bins),
    anchors AS (
      SELECT 0 AS i, CAST(0 AS BIGINT) AS cw, CAST(0 AS BIGINT) AS cs
      UNION ALL SELECT i, cw, cs FROM cum),
    -- interval means for every 1 <= j <= k <= B: the minimax identity
    -- fitted(b) = max_{j<=b} min_{k>=b} mean(y over bins j..k)
    ratios AS (
      SELECT j.i AS j, k.i AS k,
             CAST(k.cs - pj.cs AS DOUBLE) / (k.cw - pj.cw) AS r
      FROM anchors k
      JOIN anchors j ON j.i >= 1 AND j.i <= k.i AND k.i >= 1
      JOIN anchors pj ON pj.i = j.i - 1),
    suffix_min AS (
      SELECT j, k,
             MIN(r) OVER (PARTITION BY j ORDER BY k DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS m
      FROM ratios),
    fit AS (
      SELECT k AS i, MAX(m) AS v FROM suffix_min GROUP BY k)
    SELECT c.bin, c.w, c.pos,
           CAST(FLOOR(1000 * f.v) AS BIGINT) AS fitted_milli
    FROM cum c JOIN fit f ON f.i = c.i
    """,
)
def e76_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E76 — isotonic calibration of P(purchase | value-score): events
    binned by floor(value), the weighted isotonic fit computed as the
    greatest convex minorant of the cumulative diagram via the
    MERGEABLE lower-hull formulation (per-bucket monotone chain, hull
    vertices merge driver-side, segments broadcast back). The oracle
    computes the same fit through the O(B²) minimax identity —
    max-over-j min-over-k of interval means — so an iterative
    optimization gets a strong value-hash. Equal rationals round to
    equal doubles and max/min commute with monotone rounding, which is
    why the two formulations hash identically (see
    extensions/calibration.py for the proof sketch and the 100 TB
    stage shapes)."""
    from train_reports_etl_spark.extensions.calibration import isotonic_calibration

    ev = load_table(spark, sf_dir, "events")
    bins = ev.groupBy(F.floor("value").cast("long").alias("bin")).agg(
        F.count("*").cast("long").alias("w"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("pos"),
    )
    return isotonic_calibration(bins)


# ------------------------------------------------------------------ E77

_RANK_SKETCH_SQL = """
    ranked AS (
      SELECT source, CAST(n_chars AS BIGINT) AS value,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM documents),
    cand AS (
      SELECT source, value, rn, n, UNNEST(range(1, {k} + 1)) AS i
      FROM ranked),
    sk AS (
      SELECT source, CAST(i AS INT) AS i, value, n
      FROM cand
      WHERE rn = ((2 * i - 1) * n + 2 * {k} - 1) // (2 * {k}))
"""


@query(
    "e77_rank_sketch_by_source",
    "WITH " + _RANK_SKETCH_SQL.format(k=32) + "SELECT source, i, value, n FROM sk",
)
def e77_rank_sketch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E77 — per-source adaptive quantile sketch (k=32 midpoint order
    statistics over n_chars): deterministic, domain-free, rank error
    <= n/2k by construction. The oracle selects the same ranks by the
    O(n·k) explode (fine at gate scale); the Spark build derives each
    row's <= 2-candidate i-interval instead — see
    sketches.rank_sample_sketch for the 100 TB shape."""
    from train_reports_etl_spark.extensions.sketches import rank_sample_sketch

    docs = load_table(spark, sf_dir, "documents")
    return rank_sample_sketch(docs, ["source"], "n_chars", "doc_id", k=32)


@query(
    "e77_rank_sketch_merged",
    "WITH "
    + _RANK_SKETCH_SQL.format(k=32)
    + """,
    pts AS (
      SELECT value, i, source, n AS wt,
             SUM(n) OVER (ORDER BY value, source, i
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw
      FROM sk),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS N
      FROM (SELECT source, MIN(n) AS n FROM sk GROUP BY source)),
    js AS (SELECT UNNEST(range(1, 33)) AS j),
    j_pts AS (
      SELECT p.value, p.cumw, t.N, js.j
      FROM pts p CROSS JOIN tot t CROSS JOIN js)
    SELECT CAST(j AS INT) AS j,
           MIN_BY(value, cumw) AS est_value,
           CAST(MIN(N) AS BIGINT) AS n_rows
    FROM j_pts
    WHERE cumw >= ((2 * j - 1) * N + 1) // 2
    GROUP BY j
    """,
)
def e77_rank_sketch_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E77 companion — the per-source sketches merged into ONE corpus
    sketch without rescanning documents (the E27 rollup story for
    quantiles): integer scaled-weight cumulation over sketch rows
    only. See sketches.merge_rank_sketches."""
    from train_reports_etl_spark.extensions.sketches import (
        merge_rank_sketches,
        rank_sample_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    sk = rank_sample_sketch(docs, ["source"], "n_chars", "doc_id", k=32)
    return merge_rank_sketches(sk, ["source"], k=32)


# ------------------------------------------------------------------ E78

@query(
    "e78_frequent_itemsets",
    f"""
    WITH toked AS (
      SELECT doc_id AS id, {_SQL_TOKENS} AS toks FROM documents),
    posting AS (
      SELECT DISTINCT id, UNNEST(toks) AS tok FROM toked),
    ms AS (SELECT (7 * COUNT(*)) // 10 AS m FROM documents),
    l1 AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS support
      FROM posting GROUP BY tok
      HAVING COUNT(*) >= (SELECT m FROM ms)),
    fp AS (SELECT p.id, p.tok FROM posting p JOIN l1 USING (tok)),
    e2 AS (
      SELECT a.id, a.tok || chr(31) || b.tok AS items
      FROM fp a JOIN fp b ON a.id = b.id AND b.tok > a.tok),
    l2 AS (
      SELECT items, CAST(COUNT(*) AS BIGINT) AS support
      FROM e2 GROUP BY items
      HAVING COUNT(*) >= (SELECT m FROM ms)),
    p2 AS (SELECT e2.id, e2.items FROM e2 JOIN l2 USING (items)),
    e3 AS (
      SELECT p.id, p.items || chr(31) || f.tok AS items
      FROM p2 p JOIN fp f
        ON p.id = f.id AND f.tok > split_part(p.items, chr(31), 2)),
    l3 AS (
      SELECT items, CAST(COUNT(*) AS BIGINT) AS support
      FROM e3 GROUP BY items
      HAVING COUNT(*) >= (SELECT m FROM ms))
    SELECT CAST(1 AS INT) AS size, tok AS items, support FROM l1
    UNION ALL
    SELECT CAST(2 AS INT), items, support FROM l2
    UNION ALL
    SELECT CAST(3 AS INT), items, support FROM l3
    """,
)
def e78_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E78 — Apriori frequent itemsets (sizes 1-3) over per-doc
    distinct token sets, min support = 70% of the corpus (an
    SF-proportional literal: one cheap count job at build, mirrored
    as a scalar subquery in the oracle). Boilerplate/template
    detection by co-occurrence — see text.frequent_itemsets for the
    level-wise prune and its scale budget."""
    from train_reports_etl_spark.extensions.text import frequent_itemsets

    docs = load_table(spark, sf_dir, "documents")
    minsup = (7 * docs.count()) // 10
    return frequent_itemsets(docs, min_support=minsup, max_size=3).select(
        F.col("size").cast("int").alias("size"), "items", "support"
    )


# ------------------------------------------------------------------ E79

def _dsir_sql(n_buckets: int = 64, quota_denom: int = 4) -> str:
    nib = lambda i: f"(instr('0123456789abcdef', substring(md5(t), {i}, 1)) - 1)"  # noqa: E731
    bucket = f"(({nib(1)} * 16 + {nib(2)}) % {n_buckets})"
    return f"""
    WITH toked AS (
      SELECT doc_id AS id, lang = 'en' AS is_target,
             UNNEST({_SQL_TOKENS}) AS t
      FROM documents),
    bucketed AS (SELECT id, is_target, {bucket} AS b FROM toked),
    cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM bucketed GROUP BY b),
    ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM bucketed
           WHERE is_target GROUP BY b),
    w AS (
      SELECT cr.b,
             CAST(FLOOR(1000 * (log2(COALESCE(ct.c_t, 0) + 1)
                              - log2(cr.c_r + 1))) AS BIGINT) AS w_milli
      FROM cr LEFT JOIN ct ON cr.b = ct.b),
    norm AS (
      SELECT CAST(FLOOR(1000 * (log2(SUM(cr.c_r) + {n_buckets})
                              - log2(SUM(COALESCE(ct.c_t, 0)) + {n_buckets})))
               AS BIGINT) AS c_milli
      FROM cr LEFT JOIN ct ON cr.b = ct.b),
    per_doc AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w_milli) AS BIGINT) AS dot
      FROM bucketed JOIN w USING (b) GROUP BY id),
    scored AS (
      SELECT d.doc_id AS id,
             COALESCE(p.n_tokens, 0) AS n_tokens,
             CAST(COALESCE(p.dot, 0)
                  + COALESCE(p.n_tokens, 0) * n.c_milli AS BIGINT)
               AS score_milli
      FROM documents d LEFT JOIN per_doc p ON p.id = d.doc_id
      CROSS JOIN norm n)
    SELECT id AS doc_id, n_tokens, score_milli,
           ROW_NUMBER() OVER (ORDER BY score_milli DESC, id)
             <= (SELECT COUNT(*) // {quota_denom} FROM documents) AS selected
    FROM scored
    """


@query("e79_dsir_importance", _dsir_sql())
def e79_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E79 — DSIR importance resampling (Xie et al. NeurIPS'23):
    hashed-bucket log-likelihood ratio between the lang='en' target
    slice and the raw corpus, integer milli-bit weights quantized once
    per bucket so the per-doc score is an exact integer dot product;
    top-25% selected via distributed_rank. See corpus.dsir_importance
    for the plan shape."""
    from train_reports_etl_spark.extensions.corpus import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == "en")


# ------------------------------------------------------------------ E80

@query(
    "e80_k_anonymity_ladder",
    """
    WITH classes AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             GROUPING(nation) * 4 + GROUPING(segment) * 2
               + GROUPING(bal_bucket) AS gid0
      FROM customer
      GROUP BY ROLLUP (nation, segment, bal_bucket)),
    levelled AS (
      SELECT CASE GROUPING_BITS WHEN 0 THEN 0 WHEN 1 THEN 1
                                WHEN 3 THEN 2 ELSE 3 END AS level, n
      FROM (SELECT CAST(gid0 AS INT) AS GROUPING_BITS, n FROM classes))
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS violating_rows,
           MIN(n) >= 5 AS k_anonymous
    FROM levelled GROUP BY level
    """,
)
def e80_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E80 — k-anonymity (k=5) audit across the nested generalization
    ladder (nation, segment, $1000 balance band) → (nation, segment)
    → (nation) → (*), all four levels from ONE ROLLUP scan+shuffle.
    The release-hygiene check for any per-record metadata sidecar —
    see extensions/privacy.py. Spark's grouping_id() composes the
    GROUPING bits MSB-first; the oracle mirrors that composition
    explicitly (GROUPING(nation)*4 + ... ) so the level labels can
    never disagree."""
    from train_reports_etl_spark.extensions.privacy import k_anonymity_ladder

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_ladder(cust, k=5)


# ------------------------------------------------------------------ E81

def _k_core_sql(k: int = 2, rounds: int = 6) -> str:
    """Unrolled-CTE twin of graph.k_core over the winnow near-dup
    edges: each round keeps edges whose BOTH endpoints had degree >= k
    in the previous round."""
    body = _winnow_ctes() + """,
    pairs AS (
      SELECT a.id AS u, b.id AS v
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    e0 AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs)"""
    # MATERIALIZED is load-bearing: each round references d{t} twice
    # and e{t-1} transitively — inlined, the winnow pipeline would be
    # re-evaluated O(3^rounds) times (measured 218 s at sf0.01; 0.4 s
    # materialized).
    for t in range(1, rounds + 1):
        body += f""",
    d{t} AS MATERIALIZED (SELECT u FROM e{t - 1} GROUP BY u HAVING COUNT(*) >= {k}),
    e{t} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{t - 1} e
      JOIN d{t} a ON a.u = e.u JOIN d{t} b ON b.u = e.v)"""
    return body + f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{rounds} GROUP BY u
    """


@query("e81_k_core", _k_core_sql())
def e81_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E81 — 2-core of the winnow near-dup graph by synchronous
    peeling (6 fixed rounds — a pure function of the edge set, so the
    unrolled oracle is a strong hash; the gate corpora reach the peel
    fixed point well inside the bound, pinned by test). Separates
    dense duplication structure from incidental pairwise matches —
    see graph.k_core."""
    from train_reports_etl_spark.extensions.graph import k_core

    edges = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return k_core(edges, k=2, rounds=6)


# ------------------------------------------------------------------ E82

@query(
    "e82_tokenizer_fertility",
    f"""
    WITH occ AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM (SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY doc_id, tok),
    enc AS (
      SELECT tok,
             CAST(length(regexp_replace(tok, '{_BPE_ROUND0_RE}', 'x', 'g'))
               AS INT) AS n_pieces
      FROM (SELECT DISTINCT tok FROM occ))
    SELECT d.lang,
           CAST(COUNT(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(o.n_occ) AS BIGINT) AS n_words,
           CAST(SUM(o.n_occ * e.n_pieces) AS BIGINT) AS n_pieces,
           CAST((SUM(o.n_occ * e.n_pieces) * 1000) // SUM(o.n_occ) AS BIGINT)
             AS fertility_milli
    FROM occ o JOIN enc e USING (tok) JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def e82_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E82 — tokenizer fertility (pieces per word, milli) per
    language: THE metric vocabulary allocation is tuned by — a
    language whose fertility runs high is under-served by the merge
    table and pays more context window per sentence (the multilingual-
    tokenizer-fairness literature's headline number). Shares the
    SQL-derivable piece table with e4_bpe_downstream_join (both twins
    read text.bpe_round0_digrams, so they cannot drift); fertility is
    one floor-div of two BIGINT sums — exact. Swap the piece table
    for the store-materialized true-BPE encode to get production
    numbers through the identical plan (the piece source is a join
    input, not a code path)."""
    from train_reports_etl_spark.extensions.text import word_occurrences

    docs = load_table(spark, sf_dir, "documents")
    occ = word_occurrences(docs)
    encoded = occ.select("tok").distinct().select(
        "tok",
        F.length(F.regexp_replace("tok", _BPE_ROUND0_RE, "x"))
        .cast("int")
        .alias("n_pieces"),
    )
    return (
        occ.join(encoded, "tok")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_pieces")).cast("long").alias("n_pieces"),
            F.expr("(sum(n_occ * n_pieces) * 1000) div sum(n_occ)")
            .cast("long")
            .alias("fertility_milli"),
        )
    )


# ------------------------------------------------------------------ E83

def _waterfill_sql(rounds: int = 6, quota_denom: int = 4) -> str:
    body = f"""
    WITH src AS MATERIALIZED (
      SELECT source, CAST(SUM(LEN({_SQL_TOKENS})) AS BIGINT) AS cap,
             CAST(FLOOR(SQRT(SUM(LEN({_SQL_TOKENS})))) AS BIGINT) AS w
      FROM documents GROUP BY source),
    bdg AS MATERIALIZED (
      SELECT CAST(SUM(cap) // {quota_denom} AS BIGINT) AS b FROM src),
    r0 AS MATERIALIZED (
      SELECT source, cap, w, FALSE AS capped FROM src)"""
    for t in range(1, rounds + 1):
        body += f""",
    s{t} AS MATERIALIZED (
      SELECT CAST((SELECT b FROM bdg)
               - COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT)
               AS num,
             CAST(COALESCE(SUM(CASE WHEN NOT capped THEN w END), 0) AS BIGINT)
               AS den
      FROM r{t - 1}),
    r{t} AS MATERIALIZED (
      SELECT r.source, r.cap, r.w,
             (r.capped OR (s.den > 0 AND r.cap * s.den <= r.w * s.num))
               AS capped
      FROM r{t - 1} r CROSS JOIN s{t} s)"""
    return body + f""",
    sf AS MATERIALIZED (
      SELECT CAST((SELECT b FROM bdg)
               - COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT)
               AS num,
             CAST(COALESCE(SUM(CASE WHEN NOT capped THEN w END), 0) AS BIGINT)
               AS den
      FROM r{rounds}),
    based AS MATERIALIZED (
      SELECT r.source, r.cap, r.w, r.capped,
             CASE WHEN r.capped THEN r.cap
                  ELSE (r.w * s.num) // GREATEST(s.den, 1) END AS base,
             CASE WHEN r.capped THEN 0
                  ELSE r.w * s.num
                       - ((r.w * s.num) // GREATEST(s.den, 1)) * s.den
                  END AS rem
      FROM r{rounds} r CROSS JOIN sf s),
    short AS MATERIALIZED (
      SELECT CAST(LEAST((SELECT b FROM bdg), SUM(cap)) - SUM(base) AS BIGINT)
               AS shortfall
      FROM based)
    SELECT b.source, b.cap, b.w,
           CAST(b.base + CASE WHEN NOT b.capped AND
                  ROW_NUMBER() OVER (ORDER BY b.rem DESC, b.source)
                    <= s.shortfall
                THEN 1 ELSE 0 END AS BIGINT) AS allocated,
           b.capped
    FROM based b CROSS JOIN short s
    """


@query("e83_waterfill_budget", _waterfill_sql())
def e83_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E83 — capped proportional token-budget allocation
    (waterfilling) across sources: budget = 25% of corpus tokens,
    weights = isqrt(cap) (temperature flattening), caps = available
    tokens per source. Exact rational λ via integer cross-
    multiplication per fixpoint round + largest-remainder top-up, so
    Σ allocated == min(budget, Σ caps) exactly and the unrolled
    MATERIALIZED oracle hash-matches. See corpus.waterfill_budget."""
    from train_reports_etl_spark.extensions.corpus import waterfill_budget
    from train_reports_etl_spark.extensions.text import tokens as _toks

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(_toks(F.col("text")))).cast("long").alias("cap"),
        F.floor(F.sqrt(F.sum(F.size(_toks(F.col("text"))))))
        .cast("long")
        .alias("w"),
    )
    budget = src.agg(F.sum("cap")).first()[0] // 4
    return waterfill_budget(src, budget=budget, rounds=6)


# ------------------------------------------------------------------ E84

@query(
    "e84_rrf_fusion",
    f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    lex AS (SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank
            FROM ({_bm25_sql()}) bm),
    den AS (
      SELECT e.vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY {_SQL_COS_Q} DESC, e.vec_id)
               AS BIGINT) AS den_rank
      FROM embeddings e, q
      ORDER BY den_rank LIMIT 20),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.den_rank,
             COALESCE(1000000000 // (60 + l.lex_rank), 0)
               + COALESCE(1000000000 // (60 + d.den_rank), 0) AS rrf_score
      FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
             AS fused_rank,
           doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(den_rank AS BIGINT) AS den_rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def e84_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E84 — reciprocal-rank fusion (Cormack & Clarke SIGIR'09), the
    PARALLEL hybrid-retrieval combiner next to E41's cascade rerank:
    BM25 top-20 and dense-cosine top-20 fuse by Σ 1/(60+rank),
    quantized to ``10⁹ // (60+rank)`` so the fusion arithmetic is
    PURE INTEGER (the standard k=60; quantization at 1e9 preserves
    every distinct rank's reciprocal exactly for rank ≤ 20). A doc in
    one list only scores that list's term — RRF's robustness to
    missing candidates is the reason production rankers prefer it to
    score blending (no score normalization across incomparable
    scales). Both input rankings are proven gate rows (bm25_rank,
    topk_cosine); fusion is a 20∪20-row full outer join + a bounded
    window — at 100 TB the cost IS the two retrievals."""
    from train_reports_etl_spark.extensions.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    lex = bm25_rank(docs, ["spark", "window", "fast"], top_n=20).select(
        "doc_id", F.col("rank").cast("long").alias("lex_rank")
    )
    den_w = Window.orderBy(F.desc("cosine_sim"), "vec_id")
    den = (
        sim.topk_cosine(emb, qv, k=20)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(den_w).cast("long").alias("den_rank"),
        )
    )
    fused = lex.join(den, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "den_rank",
        (
            F.coalesce(F.expr("1000000000 div (60 + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + den_rank)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_score"),
    )
    w = Window.orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
        .select(
            F.row_number().over(w).cast("int").alias("fused_rank"),
            "doc_id",
            "rrf_score",
            "lex_rank",
            "den_rank",
        )
    )


# ------------------------------------------------------------------ E85

def _hll_session_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import hll_parts_sql

    bucket, rho = hll_parts_sql("event_type")
    return f"""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked),
    bounds AS (
      SELECT user_id, session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY MIN(ts) DESC) AS rn
      FROM sess GROUP BY user_id, session_id),
    regs AS (
      SELECT user_id, session_id, bucket, CAST(MAX(rho) AS BIGINT) AS rho
      FROM (SELECT user_id, session_id,
                   CAST({bucket} AS BIGINT) AS bucket, {rho} AS rho
            FROM sess WHERE event_type IS NOT NULL)
      GROUP BY user_id, session_id, bucket)
    SELECT b.user_id AS key, b.session_start, b.session_end,
           r.bucket, r.rho
    FROM bounds b JOIN regs r USING (user_id, session_id)
    WHERE b.rn > 1
    """


@query("e85_streaming_hll_sessions", _hll_session_sql())
def e85_streaming_hll_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E85 — per-activity-window approximate-distinct as STREAM STATE:
    HyperLogLog registers over event_type per 30-min-gap window,
    emitted as sparse integer register rows at window closure — the
    streaming-safe COUNT(DISTINCT) whose per-key state is bounded by
    m=256 regardless of element cardinality, and whose emitted windows
    merge downstream by groupBy(bucket).max(rho) (the E13/E27 law).
    Same oracle contract as e5_stateful_sessionize: no-data batches
    disabled, so emissions = every window closed by an in-batch gap
    (all but each key's last — SQL-expressible); the timeout flush is
    pytest-pinned. Python nibble math is the verbatim twin of
    sketches.hll_parts_sql, so registers are bit-identical to the
    batch aggregation."""
    from train_reports_etl_spark.streaming.stateful import (
        streaming_hll_session_distinct,
    )

    with conf_scope(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        out = streaming_hll_session_distinct(
            _stream_events(spark, sf_dir),
            key_col="user_id",
            elem_col="event_type",
            ts_col="ts",
            gap_ms=1_800_000,
            watermark="30 minutes",
        )
        _run_to_memory(out, "e85_streaming_hll_sink")
    return spark.table("e85_streaming_hll_sink")


# ------------------------------------------------------------------ E86

def _mg_sql(k: int = 20, n_buckets: int = 8) -> str:
    from train_reports_etl_spark.extensions.corpus import bucket_sql

    b = f"({bucket_sql('doc_id')}) % {n_buckets}"
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    bk AS (SELECT {b} AS bucket, t FROM tok),
    c AS (
      SELECT bucket, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM bk GROUP BY 1, 2),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                                   ORDER BY c DESC, t) AS rk
      FROM c),
    sub AS (SELECT bucket, c AS err FROM r WHERE rk = {k} + 1),
    summ AS (
      SELECT r.bucket, r.t AS item,
             r.c - COALESCE(err, 0) AS cnt, COALESCE(err, 0) AS err
      FROM r LEFT JOIN sub USING (bucket)
      WHERE rk <= {k} AND r.c - COALESCE(err, 0) > 0),
    e0 AS (
      SELECT CAST(COALESCE(SUM(e_b), 0) AS BIGINT) AS e0
      FROM (SELECT bucket, MAX(err) AS e_b FROM summ GROUP BY 1)),
    comb AS (
      SELECT item, CAST(SUM(cnt) AS BIGINT) AS s FROM summ GROUP BY 1),
    r2 AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, item) AS rk FROM comb),
    d2 AS (
      SELECT CAST(COALESCE((SELECT s FROM r2 WHERE rk = {k} + 1), 0)
                  AS BIGINT) AS d2)
    SELECT CAST(rk AS INT) AS rk, item,
           CAST(s - d2 AS BIGINT) AS est_count,
           CAST(d2 + e0 AS BIGINT) AS err_bound
    FROM r2, d2, e0
    WHERE rk <= {k} AND s - d2 > 0
    """


@query("e86_mg_heavy_hitters", _mg_sql())
def e86_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E86 — Misra–Gries mergeable heavy hitters over corpus tokens:
    per-md5-bucket exact counts compressed to k counters, then one
    combine + global compress (Agarwal et al. PODS'12) — the
    DETERMINISTIC frequency sketch next to the randomized CMS (E35),
    with the error budget carried as an explicit integer column
    (est ≤ true ≤ est + err_bound; any token with true count >
    err_bound is guaranteed a row). The merge runs on B·k summary
    rows, never the corpus — the per-shard/day rollup story of
    E27/E77, for frequencies. See sketches.mg_summaries/mg_merge."""
    from train_reports_etl_spark.extensions.corpus import bucket_sql
    from train_reports_etl_spark.extensions.sketches import mg_merge, mg_summaries
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr(f"({bucket_sql('doc_id')}) % 8").cast("int").alias("bucket"),
        F.explode(tokens("text")).alias("t"),
    )
    summ = mg_summaries(toks, "bucket", "t", k=20)
    return mg_merge(summ, "bucket", k=20)


# ------------------------------------------------------------------ E87

@query(
    "e87_l_diversity_audit",
    """
    WITH classes AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sens,
             GROUPING(nation) * 2 + GROUPING(bal_bucket) AS gid0
      FROM customer
      GROUP BY ROLLUP (nation, bal_bucket)),
    levelled AS (
      SELECT CASE CAST(gid0 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1
                                    ELSE 2 END AS level,
             n, n_sens
      FROM classes)
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n_sens) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN n_sens < 3 THEN n ELSE 0 END) AS BIGINT)
             AS violating_rows,
           MIN(n_sens) >= 3 AS l_diverse
    FROM levelled GROUP BY level
    """,
)
def e87_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E87 — distinct l-diversity (l=3) audit over the QI ladder
    (nation, $1000 balance band) → (nation) → (*), sensitive = market
    segment (excluded from the QIs): the homogeneity attack
    k-anonymity misses — a large class whose members all share one
    sensitive value leaks it without re-identification. One ROLLUP
    scan with COUNT(DISTINCT sensitive) per class; GROUPING-bit
    composition mirrored explicitly as in e80. See
    extensions/privacy.py:l_diversity_audit."""
    from train_reports_etl_spark.extensions.privacy import l_diversity_audit

    cust = load_table(spark, sf_dir, "customer")
    return l_diversity_audit(cust, l=3)


# ------------------------------------------------------------------ E88

#: round(1e6 / log2(rank+1)) for ranks 1..20 — the nDCG log discount
#: as INTEGER LITERALS computed once at code-write time, so neither
#: engine evaluates a float log and the whole metric is exact integer
#: arithmetic (the e22/e79 literal-constant discipline).
_NDCG_W = {
    1: 1000000, 2: 630930, 3: 500000, 4: 430677, 5: 386853,
    6: 356207, 7: 333333, 8: 315465, 9: 301030, 10: 289065,
    11: 278943, 12: 270238, 13: 262650, 14: 255958, 15: 250000,
    16: 244651, 17: 239812, 18: 235409, 19: 231378, 20: 227670,
}

_NDCG_KS = (5, 10, 20)


def _ndcg_sql() -> str:
    w_vals = ", ".join(f"({r}, {w})" for r, w in _NDCG_W.items())
    k_vals = ", ".join(f"({k})" for k in _NDCG_KS)
    rel = ("CAST(LEN(LIST_FILTER(LIST_DISTINCT(toks), "
           "x -> x IN ('spark', 'window', 'fast'))) AS BIGINT)")
    return f"""
    WITH w(rank, w) AS (VALUES {w_vals}),
    ks(k) AS (VALUES {k_vals}),
    rel AS (
      SELECT doc_id, {rel} AS rel
      FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)),
    ranked AS (
      SELECT CAST(rank AS BIGINT) AS rank, doc_id FROM ({_bm25_sql()}) bm),
    got AS (
      SELECT r.rank, rel.rel FROM ranked r JOIN rel USING (doc_id)),
    ideal AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT)
               AS rank, rel
      FROM rel ORDER BY rel DESC, doc_id LIMIT 20),
    dcg AS (
      SELECT k, CAST(SUM(g.rel * w.w) AS BIGINT) AS dcg_micro
      FROM got g JOIN w ON g.rank = w.rank, ks
      WHERE g.rank <= k GROUP BY k),
    idcg AS (
      SELECT k, CAST(SUM(i.rel * w.w) AS BIGINT) AS idcg_micro
      FROM ideal i JOIN w ON i.rank = w.rank, ks
      WHERE i.rank <= k GROUP BY k)
    SELECT CAST(ks.k AS INT) AS k,
           COALESCE(dcg_micro, 0) AS dcg_micro,
           idcg_micro,
           CAST((1000000 * COALESCE(dcg_micro, 0)) // idcg_micro AS BIGINT)
             AS ndcg_ppm
    FROM ks LEFT JOIN dcg ON ks.k = dcg.k JOIN idcg ON ks.k = idcg.k
    """


@query("e88_ndcg_retrieval_eval", _ndcg_sql())
def e88_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E88 — nDCG@{5,10,20} of the BM25 retriever (Järvelin &
    Kekäläinen TOIS'02), the evaluation half of the E4/E84 retrieval
    family: graded relevance = # of distinct query terms the document
    contains (0–3, a deterministic label both engines derive from the
    data), log2 discounts as integer literals (_NDCG_W), nDCG as ONE
    floor-div of BIGINT sums — the metric is exact, not
    float-blended. The ideal ranking is a corpus-wide top-20 by
    relevance (TakeOrderedAndProject); the evaluated ranking joins
    rel by doc_id. At 100 TB the cost IS the retrieval being
    evaluated — the eval adds one rel scan and 20-row arithmetic."""
    from train_reports_etl_spark.extensions.text import bm25_rank, tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "fast"]
    rel = docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(tokens("text")),
                F.array([F.lit(t) for t in terms]),
            )
        ).cast("long").alias("rel"),
    )
    ranked = bm25_rank(docs, terms, top_n=20).select(
        F.col("rank").cast("long").alias("rank"), "doc_id"
    )
    wmap = F.create_map(
        *[F.lit(x) for rw in _NDCG_W.items() for x in rw]
    )
    got = ranked.join(rel, "doc_id").select(
        "rank", (F.col("rel") * F.element_at(wmap, F.col("rank"))).alias("g")
    )
    w_ideal = Window.orderBy(F.desc("rel"), F.col("doc_id").asc())
    ideal = (
        rel.orderBy(F.desc("rel"), F.col("doc_id").asc())
        .limit(20)
        .select(
            F.row_number().over(w_ideal).cast("long").alias("rank"), "rel"
        )
        .select(
            "rank",
            (F.col("rel") * F.element_at(wmap, F.col("rank"))).alias("g"),
        )
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _NDCG_KS])).alias("k")
    dcg = (
        got.select(ks, "rank", "g")
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("g").cast("long").alias("dcg_micro"))
    )
    idcg = (
        ideal.select(ks, "rank", "g")
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("g").cast("long").alias("idcg_micro"))
    )
    kdf = local_frame(ranked.sparkSession, [(k,) for k in _NDCG_KS], "k int")
    return (
        kdf.join(F.broadcast(dcg), "k", "left")
        .join(F.broadcast(idcg), "k")
        .select(
            F.col("k").cast("int").alias("k"),
            F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long").alias(
                "dcg_micro"
            ),
            F.col("idcg_micro").cast("long").alias("idcg_micro"),
            F.expr(
                "cast((1000000 * coalesce(dcg_micro, 0)) div idcg_micro"
                " as bigint)"
            ).alias("ndcg_ppm"),
        )
    )


# ------------------------------------------------------------------ E89

def _hll_overlap_sql() -> str:
    from train_reports_etl_spark.extensions.sketches import HLL_M, hll_parts_sql

    b, r = hll_parts_sql("text")
    alpha = f"(0.7213/(1.0 + 1.079/{HLL_M}.0))"
    num = f"{alpha} * {HLL_M * HLL_M}.0 * {float(1 << 53)!r}"

    def est(n_set: str, psum: str) -> str:
        z = (
            f"CAST({psum} + CAST({HLL_M} - {n_set} AS BIGINT) * "
            "(CAST(1 AS BIGINT) << 53) AS BIGINT)"
        )
        return f"{num} / CAST({z} AS DOUBLE)"

    return f"""
    WITH regs AS (
      SELECT source, {b} AS bucket, MAX({r}) AS rho
      FROM documents GROUP BY 1, 2),
    per AS (
      SELECT source, CAST(COUNT(*) AS INT) AS n_set,
             SUM(CAST(1 AS BIGINT) << (53 - rho)) AS psum
      FROM regs GROUP BY 1),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM per a JOIN per b ON a.source < b.source),
    pe AS (
      SELECT src_a, src_b, src_a AS src FROM pairs
      UNION ALL
      SELECT src_a, src_b, src_b FROM pairs),
    u AS (
      SELECT pe.src_a, pe.src_b, r.bucket, MAX(r.rho) AS rho
      FROM pe JOIN regs r ON r.source = pe.src
      GROUP BY 1, 2, 3),
    uest AS (
      SELECT src_a, src_b,
             {est("CAST(COUNT(*) AS INT)", "SUM(CAST(1 AS BIGINT) << (53 - rho))")}
               AS est_union
      FROM u GROUP BY 1, 2),
    sest AS (SELECT source, {est("n_set", "psum")} AS est FROM per),
    j AS (
      SELECT p.src_a, p.src_b, a.est AS est_a, b.est AS est_b, ue.est_union,
             GREATEST(0.0, a.est + b.est - ue.est_union) AS est_inter
      FROM pairs p
      JOIN sest a ON a.source = p.src_a
      JOIN sest b ON b.source = p.src_b
      JOIN uest ue ON ue.src_a = p.src_a AND ue.src_b = p.src_b)
    SELECT src_a, src_b, est_a, est_b, est_union, est_inter,
           CAST(FLOOR(1000000.0 * est_inter / est_union) AS BIGINT)
             AS jaccard_ppm
    FROM j
    """


@query("e89_hll_source_overlap", _hll_overlap_sql())
def e89_hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E89 — cross-source overlap estimated from SKETCHES ALONE: HLL
    set algebra (union by register max — the E13 merge law;
    intersection by inclusion–exclusion, clamped at 0; Jaccard as one
    floor-div ppm) over every source pair. The 100 TB use is
    contamination/audience triage: shards persist their ≤256-row
    register tables, and all O(S²) pair estimates are arithmetic on
    those rows — the data is never rescanned, and the one data-sized
    stage here (the register build) is shared with e4_hll_rollup's.
    The S(S−1)/2 pair frame is enumerated driver-side from one ≤S-row
    collect of the source catalog (a bounded domain — dozens of
    shards/feeds, never data-sized; the same bounded-collect class as
    the bucket-count and date-range collects), so every downstream
    join is an equi-join against a literal frame — an earlier
    constant-key join trick was folded by Catalyst into an inequality
    BNLJ, exactly the node it tried to avoid. Every float is the same
    IEEE expression in both engines over identical BIGINT sums —
    hash-stable (the e4_hll_rollup precedent)."""
    from train_reports_etl_spark.extensions.sketches import (
        hll_estimate_grouped,
        hll_registers_by,
    )

    docs = load_table(spark, sf_dir, "documents")
    regs = hll_registers_by(docs, ["source"], "text").persist()
    sest = hll_estimate_grouped(regs, ["source"]).select(
        "source", F.col("hll_estimate").alias("est")
    )
    srcs = sorted(r[0] for r in regs.select("source").distinct().collect())
    pairs = local_frame(
        spark,
        [(a, b) for i, a in enumerate(srcs) for b in srcs[i + 1:]],
        "src_a string, src_b string",
    )
    pe = pairs.select("src_a", "src_b", F.col("src_a").alias("src")).unionByName(
        pairs.select("src_a", "src_b", F.col("src_b").alias("src"))
    )
    u = (
        pe.join(regs.withColumnRenamed("source", "src"), "src")
        .groupBy("src_a", "src_b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    uest = hll_estimate_grouped(u, ["src_a", "src_b"]).select(
        "src_a", "src_b", F.col("hll_estimate").alias("est_union")
    )
    return (
        pairs.join(sest.withColumnRenamed("source", "src_a").withColumnRenamed("est", "est_a"), "src_a")
        .join(sest.withColumnRenamed("source", "src_b").withColumnRenamed("est", "est_b"), "src_b")
        .join(uest, ["src_a", "src_b"])
        .withColumn(
            "est_inter",
            F.greatest(F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")),
        )
        .select(
            "src_a", "src_b", "est_a", "est_b", "est_union", "est_inter",
            F.expr(
                "cast(floor(1000000.0 * est_inter / est_union) as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


# ------------------------------------------------------------------ E90

def _kc_d2(a: str, b: str, dim: int = 64) -> str:
    """Exact integer squared L2 between two quantized bigint lists —
    the SQL twin of clustering._d2_int (integer terms, order-free sum)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, v) -> acc + v)"
    )


def _kcenter_sql(k: int = 8, dim: int = 64) -> str:
    """Unrolled farthest-first traversal. Every round CTE is referenced
    twice (the next selection AND the next min-fold), so each is
    MATERIALIZED — the fan-out ≥ 2 rule from the e81 k-core oracle
    (plain CTE inlining re-evaluates the chain exponentially)."""
    ctes = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vq "
        "FROM embeddings)",
        # hash-order seed: kcenter_select_portable's orderBy(md5, id).limit(1)
        """c0 AS MATERIALIZED (
          SELECT CAST(0 AS INT) AS r, vec_id, vq, CAST(NULL AS BIGINT) AS sel_d2
          FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)""",
        f"""m1 AS MATERIALIZED (
          SELECT q.vec_id, q.vq, {_kc_d2('q.vq', 'c.vq', dim)} AS ms
          FROM q CROSS JOIN c0 c)""",
    ]
    for r in range(1, k):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
              SELECT CAST({r} AS INT) AS r, vec_id, vq, ms AS sel_d2
              FROM m{r} ORDER BY ms DESC, vec_id LIMIT 1)"""
        )
        if r == k - 1:
            break
        ctes.append(
            f"""m{r + 1} AS MATERIALIZED (
              SELECT m.vec_id, m.vq, LEAST(m.ms, {_kc_d2('m.vq', 'c.vq', dim)}) AS ms
              FROM m{r} m CROSS JOIN c{r} c)"""
        )
    cent_union = " UNION ALL ".join(
        f"SELECT r, vec_id, vq, sel_d2 FROM c{r}" for r in range(k)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    cent AS MATERIALIZED ({cent_union}),
    scored AS (
      SELECT q.vec_id, cent.r, {_kc_d2('q.vq', 'cent.vq', dim)} AS d2
      FROM q CROSS JOIN cent),
    a AS (
      SELECT vec_id, r, d2 FROM (
        SELECT vec_id, r, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, r) AS rn
        FROM scored) WHERE rn = 1)
    SELECT cent.r AS center_rank,
           CAST(cent.vec_id AS BIGINT) AS center_id,
           cent.sel_d2 AS sel_d2,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(MAX(a.d2) AS BIGINT) AS max_d2
    FROM cent JOIN a ON a.r = cent.r
    GROUP BY cent.r, cent.vec_id, cent.sel_d2
    ORDER BY center_rank
    """
    )


@query("e90_kcenter_diversity", _kcenter_sql())
def e90_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E90 — greedy k-center diversity selection (Gonzalez, TCS 1985:
    farthest-first traversal, the classic 2-approximation) over the
    embedding table, then full nearest-center assignment: the COVERAGE
    side of data curation — SemDeDup (E46) removes redundancy near
    cluster cores; k-center picks the maximally-SPREAD exemplar set
    (coresets, eval-set seeding, active-learning seed pools).

    STRONG-oracled end-to-end despite being an iterative/greedy
    algorithm, via the established integer discipline: coordinates
    quantize to bigints (FLOOR×1e6, the kmeans_fit_portable trick), so
    every min-distance is an EXACT int64, every argmax (with its
    lowest-id tie-break) replays bit-identically in the unrolled
    MATERIALIZED-CTE oracle, and the emitted columns are all integers.
    Per round one TakeOrdered job over broadcast-literal integer folds
    (flat plans, k×64 longs on the driver); assignment is one map-only
    pass — k linear scans total at any scale."""
    from train_reports_etl_spark.extensions.clustering import (
        kcenter_assign,
        kcenter_select_portable,
        quantize_vectors,
    )

    from train_reports_etl_spark.util import repartition_if_coarse

    emb = load_table(spark, sf_dir, "embeddings")
    # single-row-group guard: without it the interpreted integer folds
    # (selection AND the k-way assignment) serialize onto one core
    q = repartition_if_coarse(quantize_vectors(emb)).persist()
    try:
        centers, _ = kcenter_select_portable(emb, k=8, quantized=q)
        cent_df = local_frame(
            spark,
            [(c[0], int(c[1]), c[3]) for c in centers],
            "center_rank int, center_id long, sel_d2 long",
        )
        summary = kcenter_assign(q, centers).groupBy("center_rank").agg(
            F.count("*").cast("long").alias("n_assigned"),
            F.max("d2").cast("long").alias("max_d2"),
        )
        return (
            cent_df.join(summary, "center_rank")
            .select("center_rank", "center_id", "sel_d2", "n_assigned", "max_d2")
            .orderBy("center_rank")
        )
    finally:
        q.unpersist()


# ------------------------------------------------------------------ E91

def _softdedup_sql() -> str:
    """Per-source soft-dedup accounting composed over the FULL
    recursive-CTE cluster closure (_clusters_sql as a nested subquery
    — one definition of "cluster", never a second one to drift)."""
    return f"""
    WITH comp AS MATERIALIZED ({_clusters_sql()}),
    j AS (
      SELECT d.source, c.cluster_rep, c.cluster_size
      FROM documents d JOIN comp c ON c.doc_id = d.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
           CAST(SUM(1000000 // cluster_size) AS BIGINT) AS sum_weight_ppm,
           CAST(COUNT(DISTINCT cluster_rep) * 1000000 // COUNT(*) AS BIGINT)
             AS effective_ppm
    FROM j GROUP BY source
    """


@query("e91_softdedup_weights", _softdedup_sql())
def e91_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E91 — duplication-aware soft-dedup accounting per source:
    every document gets a sampling weight inverse to its NEAR-dup
    cluster size (``1e6 div cluster_size``, exact integer ppm — see
    dedup.softdedup_weights), and the per-source rollup reports docs,
    distinct clusters touched, the summed weight (what one epoch of
    weighted sampling actually draws from this source) and the
    effective-content fraction — the reweight-don't-drop complement to
    e7_dedup_rate_by_source's EXACT-fingerprint rate and the keep-last
    hard policies. Composes the shared winnow CC cluster store (the
    single cluster definition e1_dedup_clusters/keep-best already
    walk), so the added cost over the cached clustering is one
    broadcast-scale join + one grouped aggregate; weights are floor
    divisions both engines — all-integer output."""
    from train_reports_etl_spark.extensions.dedup import softdedup_weights

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = softdedup_weights(_shared_winnow_clusters(spark, sf_dir))
    return (
        docs.join(w, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cluster_rep").cast("long").alias("n_clusters"),
            F.sum("weight_ppm").cast("long").alias("sum_weight_ppm"),
        )
        .withColumn(
            "effective_ppm",
            F.expr("n_clusters * 1000000 div n_docs").cast("long"),
        )
    )


# ------------------------------------------------------------------ E92

def _domain_sim_sql(top_v: int = 1000) -> str:
    return f"""
    WITH tok AS (
      SELECT source, UNNEST({_SQL_TOKENS}) AS t FROM documents),
    tc AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    top AS (
      SELECT t FROM (
        SELECT t, SUM(c) AS gc FROM tc GROUP BY t
        ORDER BY gc DESC, t LIMIT {top_v})),
    tt AS (SELECT tc.source, tc.t, tc.c FROM tc JOIN top USING (t)),
    tot AS (SELECT source, SUM(c) AS n FROM tt GROUP BY 1),
    f AS (
      SELECT tt.source, tt.t, tt.c * 1000000 // tot.n AS f
      FROM tt JOIN tot USING (source)),
    nrm AS (SELECT source, SUM(f * f) AS n2 FROM f GROUP BY 1),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(a.f * b.f) AS BIGINT) AS dot
      FROM f a JOIN f b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2)
    SELECT p.src_a, p.src_b, p.dot,
           CAST(FLOOR(1000000.0 * p.dot /
                      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
             AS BIGINT) AS cos_ppm
    FROM pair p
    JOIN nrm na ON na.source = p.src_a
    JOIN nrm nb ON nb.source = p.src_b
    """


@query("e92_domain_similarity", _domain_sim_sql())
def e92_domain_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E92 — cross-source DOMAIN similarity matrix: cosine between
    per-source unigram relative-frequency vectors over the global
    top-1000 vocabulary — the lexical domain-affinity signal mixture
    design starts from (which feeds/shards are near-duplicates of each
    other's distribution vs genuinely new domains; the sketch-overlap
    E89 answers the same triage for shared DOCUMENTS, this for shared
    LANGUAGE).

    Integer discipline end-to-end: counts → ppm relative frequencies
    by floor division (bounds every component at 1e6, so dot products
    over a 1000-term vocab stay ≤ 10¹⁵ — int64-safe at ANY corpus
    size, where raw-count dots overflow), norms as exact bigint sums,
    and the only floats are the same sqrt/division IEEE ops over
    identical integers in both engines (the e89 precedent).

    Scale shape: the data-sized stage is the map-combinable
    (source, token) count; the top-V cut is a TakeOrdered (never a
    global sort), and everything after runs on ≤ S·V ppm rows — the
    pair join fan-out is vocabulary- and catalog-bounded, independent
    of corpus size."""
    from train_reports_etl_spark.extensions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = (
        tc.groupBy("t")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.desc("gc"), "t")
        .limit(1000)
        .select("t")
    )
    tt = tc.join(F.broadcast(top), "t")
    tot = tt.groupBy("source").agg(F.sum("c").alias("n"))
    f = tt.join(tot, "source").select(
        "source", "t", F.expr("c * 1000000 div n").alias("f")
    )
    nrm = f.groupBy("source").agg(F.sum(F.col("f") * F.col("f")).alias("n2"))
    a = f.select(F.col("source").alias("src_a"), "t", F.col("f").alias("fa"))
    b = f.select(F.col("source").alias("src_b"), "t", F.col("f").alias("fb"))
    pair = (
        a.join(b, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("fa") * F.col("fb")).cast("long").alias("dot"))
    )
    return (
        pair.join(nrm.select(F.col("source").alias("src_a"), F.col("n2").alias("na")), "src_a")
        .join(nrm.select(F.col("source").alias("src_b"), F.col("n2").alias("nb")), "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            F.expr(
                "cast(floor(1000000.0 * dot / "
                "(sqrt(cast(na as double)) * sqrt(cast(nb as double)))) as bigint)"
            ).alias("cos_ppm"),
        )
    )


# ------------------------------------------------------------------ E93

def _t_closeness_sql(t_ppm: int = 200_000) -> str:
    lvl_keys = [
        "CONCAT(CAST(nation AS VARCHAR), '|', CAST(bal_bucket AS VARCHAR))",
        "CAST(nation AS VARCHAR)",
        "'*'",
    ]
    parts = []
    for lvl, ck in enumerate(lvl_keys):
        parts.append(f"""
    cls{lvl} AS (
      SELECT {ck} AS ck, sensitive, CAST(SUM(c) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
    pc{lvl} AS (
      SELECT j.ck, j.nc,
             CAST((1000000 * (j.present_num + j.nc * (t.n - j.g_present)))
               // (2 * j.nc * t.n) AS BIGINT) AS tvd_ppm
      FROM (
        SELECT cls.ck, nc.nc,
               CAST(SUM(ABS(cls.c * t.n - g.g * nc.nc)) AS BIGINT)
                 AS present_num,
               CAST(SUM(g.g) AS BIGINT) AS g_present
        FROM cls{lvl} cls
        JOIN (SELECT ck, CAST(SUM(c) AS BIGINT) AS nc
              FROM cls{lvl} GROUP BY 1) nc USING (ck)
        JOIN gdist g USING (sensitive)
        CROSS JOIN tot t
        GROUP BY 1, 2) j
      CROSS JOIN tot t),
    r{lvl} AS (
      SELECT CAST({lvl} AS INT) AS level,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MAX(tvd_ppm) AS BIGINT) AS max_tvd_ppm,
             CAST(COALESCE(SUM(CASE WHEN tvd_ppm > {t_ppm} THEN nc END), 0)
               AS BIGINT) AS violating_rows,
             MAX(tvd_ppm) <= {t_ppm} AS t_close
      FROM pc{lvl})""")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
             c_mktsegment AS sensitive,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3),
    gdist AS MATERIALIZED (
      SELECT sensitive, CAST(SUM(c) AS BIGINT) AS g FROM base GROUP BY 1),
    tot AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS n FROM base),
    {','.join(parts)}
    SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
    """


@query("e93_t_closeness_audit", _t_closeness_sql())
def e93_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E93 — t-closeness audit (Li et al. ICDE'07), completing the
    release-audit trio over the same QI ladder as E80/E87: k-anonymity
    bounds re-identification, l-diversity rules out homogeneity, and
    t-closeness catches the SKEWNESS attack (l distinct sensitive
    values in wildly non-global proportions still leak). Total
    variational distance per class as EXACT integer ppm — see
    privacy.t_closeness_audit for the cross-multiplied formulation and
    its int64 bound; absent sensitive values fold algebraically, so no
    class×domain cross join exists in either engine. One data-sized
    scan (the (class, sensitive) base aggregate); each ladder level
    re-aggregates those tiny rows. Root TVD ≡ 0 — a built-in sanity
    row both engines must agree on."""
    from train_reports_etl_spark.extensions.privacy import t_closeness_audit

    cust = load_table(spark, sf_dir, "customer")
    return t_closeness_audit(cust)

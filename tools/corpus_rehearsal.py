"""100 TB corpus-build dress rehearsal (VERDICT r08 #6): the
production pipeline a real user runs, composed end-to-end over a
builder-owned N× corpus, with per-stage wall + shuffle recorded.

Every operator below is individually gate-proven; this runner pins
their COMPOSITION — the materialization boundaries, store/cache
interactions, and cumulative shuffle a per-query bench cannot see.
Stages (each materialized to parquet in a work dir so walls are
isolated and downstream stages read real files, as a production DAG
would):

1. normalize    — canonical fingerprint + token counts
2. exact_dedup  — min-id canonical per md5 fingerprint (digest shuffle)
3. near_dup     — MinHash+LSH pairs (saturation-guarded); drop the
                  greater-id side of every near-dup pair
4. quality      — Gopher-style hard gate + char-trigram-LM perplexity
                  cut at 1.25x the corpus median
5. dsir         — importance resampling toward the English slice
                  (top 1/4 by hashed-ngram LLR score)
6. waterfill    — per-source token budget at 60% of the surviving
                  corpus, temperature weights w = isqrt(cap); docs
                  admitted per source in hash order until the
                  allocation is spent
7. shards       — deterministic split assignment + 2048-token
                  sequence packing into 8 shards
8. manifest     — per-shard manifest + corpus summary (dataset card)

Usage::

    python tools/corpus_rehearsal.py [--src .scaledata/x30] \
        [--work /tmp/rehearsal] [--json OUT]

Prints one line per stage (wall, shuffle MB, output rows) and a JSON
summary; exits 1 if any stage fails or the invariant checks at the
end fail (tokens allocated ≤ budget, shards cover every admitted doc).
Each stage runs in a ``perfbench/spans.py`` span; its shuffle MB
(10^6 bytes) is the shuffle-write of the span's own jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from bench import session  # also puts perfbench/ on sys.path
from spans import MB, Tracer


def main() -> int:
    argv = sys.argv[1:]
    src = os.path.join(ROOT, ".scaledata", "x30")
    work = "/tmp/corpus_rehearsal"
    json_out = None
    if "--src" in argv:
        i = argv.index("--src")
        src = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--work" in argv:
        i = argv.index("--work")
        work = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    spark = session("corpus-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    stages: dict[str, dict] = {}
    tracer = Tracer(spark, "corpus-rehearsal", enabled=True)

    def stage(name: str, fn):
        path = os.path.join(work, f"{name}.parquet")
        with tracer.span(name, "stage") as sp:
            fn().write.mode("overwrite").parquet(path)
            back = spark.read.parquet(path)
            rows = back.count()
        wall = round(sp.seconds, 2)
        mb = round(sp.stats["shuffle_write_mb"] * MB / 1e6, 1)
        stages[name] = {"wall": wall, "shuffle_mb": mb, "rows": rows}
        print(f"{name:12s} wall={wall:8.2f}s shuffle={mb:9.1f}MB rows={rows}")
        return back

    from train_reports_etl_spark.extensions.corpus import (
        build_corpus_summary,
        pack_sequences,
        quality_gate,
        split_assign,
        waterfill_budget,
    )
    from train_reports_etl_spark.extensions.dedup import (
        exact_dedup,
        minhash_near_duplicates,
    )
    from train_reports_etl_spark.extensions.text import (
        char_trigram_lm_millibits,
        fingerprint_md5,
        token_count,
    )
    from train_reports_etl_spark.util import repartition_if_coarse

    docs = repartition_if_coarse(
        spark.read.parquet(os.path.join(src, "documents.parquet"))
    )

    s1 = stage(
        "normalize",
        lambda: docs.select(
            "doc_id",
            "text",
            "lang",
            "source",
            fingerprint_md5("text").alias("fp"),
            token_count("text").alias("n_tokens"),
        ),
    )

    s2 = stage("exact_dedup", lambda: exact_dedup(s1)[0])

    def near_dup():
        pairs = minhash_near_duplicates(s2, threshold=0.5)
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return s2.join(losers, "doc_id", "left_anti")

    s3 = stage("near_dup", near_dup)

    def quality():
        gate = quality_gate(s3).filter("keep").select("doc_id")
        lm = char_trigram_lm_millibits(s3)
        med = lm.agg(
            F.expr("approx_percentile(millibits_per_trigram, 0.5)").alias("m")
        ).collect()[0]["m"]
        ok_lm = lm.filter(
            F.col("millibits_per_trigram") <= F.lit(int(med * 1.25))
        ).select("doc_id")
        return s3.join(gate, "doc_id", "left_semi").join(ok_lm, "doc_id", "left_semi")

    s4 = stage("quality", quality)

    def dsir():
        from train_reports_etl_spark.extensions.corpus import dsir_importance

        scored = dsir_importance(s4, F.col("lang") == "en")
        sel = scored.filter("selected").select("doc_id")
        return s4.join(sel, "doc_id", "left_semi")

    s5 = stage("dsir", dsir)

    def waterfill():
        caps = s5.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("cap"))
        srcs = caps.select(
            "source", "cap", F.expr("cast(sqrt(cap) as bigint)").alias("w")
        )
        total = srcs.agg(F.sum("cap")).collect()[0][0]
        alloc = waterfill_budget(srcs, budget=int(total * 0.6))
        # admit docs per source in SALTED md5-hash order until the
        # allocation is spent (deterministic, distributed: per-source
        # cumsum). The salt is load-bearing: the first x1 rehearsal
        # admitted by raw md5(doc_id) — the SAME hash split_assign
        # buckets on — so every admitted doc had a small bucket and the
        # dataset card came out 100% train / 0 val / 0 test. Correlated
        # hashes across pipeline stages are exactly the composition
        # failure this rehearsal exists to catch; any stage that orders
        # or samples by a key hash must salt it with a stage tag.
        from pyspark.sql import Window

        w = Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":admit"))),
            F.col("doc_id"),
        )
        cum = s5.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        return cum.join(
            F.broadcast(alloc.select("source", "allocated")), "source"
        ).filter(F.col("cum_tokens") <= F.col("allocated")).drop("allocated")

    s6 = stage("waterfill", waterfill)

    def shards():
        # pack_sequences emits one row per (shard, chunk): doc count,
        # token count, id range — the physical training-shard layout
        assigned = split_assign(s6)
        sharded = assigned.withColumn(
            "shard", F.pmod(F.col("bucket"), F.lit(8)).cast("int")
        )
        return pack_sequences(sharded, budget=2048)

    s7 = stage("shards", shards)

    def manifest():
        return (
            s7.groupBy("shard")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("chunk_tokens").cast("long").alias("n_tokens"),
                F.count("*").cast("long").alias("n_chunks"),
            )
            .orderBy("shard")
        )

    stage("manifest", manifest)
    card = build_corpus_summary(s6).collect()
    print("dataset card:", [r.asDict() for r in card])

    # invariants: the composition must not have broken stage contracts
    failures = []
    alloc_check = (
        s6.groupBy("source").agg(F.sum("n_tokens").alias("t")).agg(F.sum("t"))
    ).collect()[0][0]
    total_before = s5.agg(F.sum("n_tokens")).collect()[0][0]
    if not alloc_check <= int(total_before * 0.6) + 1:
        failures.append(
            f"waterfill overdraw: {alloc_check} > 60% of {total_before}"
        )
    packed_docs = s7.agg(F.sum("n_docs")).collect()[0][0]
    if packed_docs != s6.count():
        failures.append(
            f"packing lost or duplicated documents: {packed_docs} packed "
            f"vs {s6.count()} admitted"
        )
    monotone = [stages[n]["rows"] for n in ("normalize", "exact_dedup", "near_dup", "quality", "dsir", "waterfill")]
    if any(a < b for a, b in zip(monotone, monotone[1:])):
        failures.append(f"a filter stage grew the corpus: {monotone}")
    # all three splits must survive the composition — the regression
    # detector for the correlated-hash admission bug (see waterfill)
    splits = {r["split"] for r in card}
    if splits != {"train", "val", "test"}:
        failures.append(f"dataset card missing splits: only {sorted(splits)}")

    summary = {
        "src": src,
        "stages": stages,
        "total_wall": round(sum(s["wall"] for s in stages.values()), 2),
        "total_shuffle_mb": round(
            sum(s["shuffle_mb"] for s in stages.values() if s["shuffle_mb"] >= 0), 1
        ),
        "failures": failures,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

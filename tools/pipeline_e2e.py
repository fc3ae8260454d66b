"""End-to-end LLM-data production pipeline at scale — ONE composed flow:

    clean_corpus -> decontaminate -> dedup_minhash_lsh ->
    dedup_assign_canonical -> deterministic_split ->
    shard_by_tokens + pack_sequences (train split)

over a gen_corpus_scale documents table (default /tmp/scale/sf100 — 5M
docs). This is the closest local proxy to the 100 TB story: every stage is
the library's real operator with defaults, composed the way a production
run would compose them, with the stage boundaries a real pipeline has
(dedup pairs feed connected components; the split feeds the shard/pack
manifests). Prints per-stage wall clock, cumulative row counts, and the
driver's peak RSS; exits non-zero on any inter-stage schema/contract
failure.

Usage: python tools/pipeline_e2e.py [corpus_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale/sf100"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ffn_pipeline_e2e"

    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.dedup import (
        dedup_assign_canonical,
        dedup_minhash_lsh,
        decontaminate,
    )
    from ffn_polars_spark.pins import release_pins
    from ffn_polars_spark.operators.pipeline import (
        clean_corpus,
        deterministic_split,
        pack_sequences,
        shard_by_tokens,
    )
    from ffn_polars_spark.sources import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
    stages: dict = {}
    t_total = time.time()

    # -- stage 1: clean (language + quality + exact-dup canonical) ---------
    # gen_corpus_scale text is synthetic ("wordNNNN" tokens, no real
    # language signal), so the n-gram vote resolves deterministically to
    # "de" for every row — accept it alongside "en" so the language gate is
    # exercised as a real filter without emptying the synthetic pipeline
    t0 = time.time()
    decisions = clean_corpus(docs, languages=("en", "de"), min_quality=0.5)
    kept_ids = decisions.where("keep").select("doc_id")
    kept = docs.join(kept_ids, "doc_id")
    # materialize the surviving corpus once: every downstream stage reads
    # it (a production run would write the cleaned corpus here anyway)
    kept_path = os.path.join(out_dir, "cleaned")
    kept.write.mode("overwrite").parquet(kept_path)
    release_pins()
    kept = spark.read.parquet(kept_path)
    n_kept = kept.count()
    stages["clean_corpus"] = {
        "wall_s": round(time.time() - t0, 1),
        "rows_out": n_kept,
    }
    print(f"clean_corpus: {n_kept} kept, {stages['clean_corpus']['wall_s']} s", flush=True)

    # -- stage 2: decontaminate against a benchmark holdout ----------------
    # the holdout is a benchmark set: a deterministic 2k-doc sample from
    # the corpus itself (hash-ordered — stable across runs), standing in
    # for an external eval set
    t0 = time.time()
    holdout = (
        docs.select("doc_id", "text")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(2000)
    )
    decon = decontaminate(kept, holdout, n=3)
    clean_ids = decon.where(~F.col("contaminated")).select("doc_id")
    survivors = kept.join(clean_ids, "doc_id")
    surv_path = os.path.join(out_dir, "decontaminated")
    survivors.write.mode("overwrite").parquet(surv_path)
    release_pins()
    survivors = spark.read.parquet(surv_path)
    n_surv = survivors.count()
    stages["decontaminate"] = {
        "wall_s": round(time.time() - t0, 1),
        "rows_out": n_surv,
    }
    print(f"decontaminate: {n_surv} clean, {stages['decontaminate']['wall_s']} s", flush=True)

    # -- stage 3+4: near-dup pairs -> canonical assignment ------------------
    t0 = time.time()
    pairs = dedup_minhash_lsh(survivors, threshold=0.8, verify="none")
    assign = dedup_assign_canonical(survivors, pairs)
    canon_path = os.path.join(out_dir, "canonical")
    assign.write.mode("overwrite").parquet(canon_path)
    release_pins()
    assign = spark.read.parquet(canon_path)
    n_dups = assign.where("is_duplicate").count()
    n_canon = assign.where("NOT is_duplicate").count()
    stages["dedup_to_canonical"] = {
        "wall_s": round(time.time() - t0, 1),
        "duplicates": n_dups,
        "canonicals": n_canon,
    }
    print(
        f"dedup: {n_dups} dups onto {n_canon} canonicals, "
        f"{stages['dedup_to_canonical']['wall_s']} s",
        flush=True,
    )

    # -- stage 5: deterministic split over the canonical survivors ---------
    t0 = time.time()
    final = survivors.join(
        assign.where("NOT is_duplicate").select("doc_id"), "doc_id"
    )
    split = deterministic_split(final, weights={"train": 0.9, "val": 0.05, "test": 0.05})
    split_counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stages["deterministic_split"] = {
        "wall_s": round(time.time() - t0, 1),
        "counts": split_counts,
    }
    print(f"split: {split_counts}, {stages['deterministic_split']['wall_s']} s", flush=True)

    # -- stage 6+7: shard + pack the train split ----------------------------
    t0 = time.time()
    train = split.where("split = 'train'").select("doc_id", "text")
    shards = shard_by_tokens(train, budget=1_000_000)
    shard_stats = shards.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("tok"), F.count(F.lit(1)).alias("docs")
    )
    n_shards, max_tok = shard_stats.agg(
        F.count(F.lit(1)), F.max("tok")
    ).first()
    release_pins()
    stages["shard_by_tokens"] = {
        "wall_s": round(time.time() - t0, 1),
        "n_shards": n_shards,
        "max_shard_tokens": max_tok,
    }
    print(
        f"shard: {n_shards} shards, max {max_tok} tokens, "
        f"{stages['shard_by_tokens']['wall_s']} s",
        flush=True,
    )

    t0 = time.time()
    packed = pack_sequences(train, seq_len=2048)
    pack_path = os.path.join(out_dir, "pack_manifest")
    packed.write.mode("overwrite").parquet(pack_path)
    release_pins()
    packed = spark.read.parquet(pack_path)
    n_chunks, n_seqs, tok_total = packed.agg(
        F.count(F.lit(1)), F.countDistinct("seq_id"), F.sum("chunk_tokens")
    ).first()
    stages["pack_sequences"] = {
        "wall_s": round(time.time() - t0, 1),
        "chunks": n_chunks,
        "sequences": n_seqs,
        "tokens": tok_total,
    }
    print(
        f"pack: {n_chunks} chunks / {n_seqs} sequences / {tok_total} tokens, "
        f"{stages['pack_sequences']['wall_s']} s",
        flush=True,
    )

    # -- contract checks -----------------------------------------------------
    # every packed token interval must tile its sequence exactly
    bad = (
        packed.groupBy("seq_id")
        .agg(F.sum("chunk_tokens").alias("tok"))
        .where(f"tok > 2048")
        .count()
    )
    assert bad == 0, f"{bad} sequences over seq_len"
    # the split must cover exactly the canonical survivors
    assert sum(split_counts.values()) == n_canon, (
        f"split covers {sum(split_counts.values())} != canonicals {n_canon}"
    )

    summary = {
        "corpus": corpus,
        "total_wall_s": round(time.time() - t_total, 1),
        "peak_driver_rss_mb": round(peak_rss_mb(), 0),
        "stages": stages,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()

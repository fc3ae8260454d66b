"""LLM training-corpus pipeline on the driver testdata: clean, deduplicate,
split, and shard a documents table.

Run: python examples/corpus_pipeline.py [sf_dir]   (default /root/testdata/sf0.01)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ffn_polars_spark.pins import pinned_scope
from ffn_polars_spark.sources import get_spark, read_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("corpus-example", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    from ffn_polars_spark.operators.dedup import (
        dedup_assign_canonical,
        dedup_minhash_lsh,
    )
    from ffn_polars_spark.operators.pipeline import (
        clean_corpus,
        deterministic_split,
        shard_by_tokens,
    )

    docs = read_table(spark, sf_dir, "documents")

    # 1. quality/language/exact-dup gate — one scan, one shuffle; every doc
    #    gets an auditable keep/drop decision
    decisions = clean_corpus(docs)
    clean = decisions.where("keep").select("doc_id").join(docs, "doc_id")
    print("clean:", clean.count(), "/", docs.count())

    # 2. near-dup clustering: banded MinHash-LSH candidates, exact-Jaccard
    #    verify, connected components, canonical assignment
    with pinned_scope():
        pairs = dedup_minhash_lsh(clean, threshold=0.8)
        canon = dedup_assign_canonical(clean, pairs)
        kept = canon.where("NOT is_duplicate").select("doc_id").join(clean, "doc_id")
        kept = kept.localCheckpoint()
    print("after near-dup removal:", kept.count())

    # 3. corpus analytics on the survivors: duplicated-span fraction (the
    #    substring-level signal whole-document dedup misses), per-doc TF-IDF
    #    keywords, vocabulary head, and an auditable KMV distinct-source count
    from ffn_polars_spark.operators.sketch import bottomk_sample, kmv_distinct
    from ffn_polars_spark.operators.text import (
        duplicate_spans,
        tfidf_topterms,
        vocab_topk,
    )

    duplicate_spans(kept).orderBy("dup_frac", ascending=False).show(3)
    tfidf_topterms(kept, m=2).show(6)
    vocab_topk(kept, k=5).show()
    kmv_distinct(kept, "source", k=64).show()

    # 3b. quality scoring + one-pass mixture dashboard: the unigram
    #     perplexity proxy ranks rare-token soup for review, and ROLLUP
    #     emits (source, lang)/(source)/total rows from a single aggregate
    from ffn_polars_spark.operators.text import corpus_rollup, unigram_logprob

    unigram_logprob(kept).orderBy("neg_logprob", ascending=False).show(3)
    corpus_rollup(kept).where("gid > 0").orderBy("gid", "source").show(5)

    # 3c. chunk the survivors into overlapping 128-token training windows
    #     (map-side only: no shuffle) before packing/sharding
    from ffn_polars_spark.operators.text import chunk_documents

    chunks = chunk_documents(kept, chunk_tokens=128, overlap=16)
    print("chunks:", chunks.count(), "from", kept.count(), "docs")

    # 3d. embedding hygiene: L2-normalize once upstream so every cosine
    #     downstream is a plain dot product, then a top-k probe
    from ffn_polars_spark.operators.similarity import ann_topk, embedding_normalize

    emb = read_table(spark, sf_dir, "embeddings")
    unit = embedding_normalize(emb)
    print("zero-norm vectors:", unit.where("uvec IS NULL").count())
    ann_topk(emb, emb.where("vec_id < 2"), k=3).show()

    # 4. deterministic split + token-budget shards; bottomk_sample draws a
    #    reproducible eval probe (same 25 docs on any cluster shape)
    split = deterministic_split(kept, weights={"train": 0.98, "val": 0.02})
    split.groupBy("split").count().show()
    shards = shard_by_tokens(split.where("split = 'train'"), budget=50_000)
    shards.groupBy("shard_id").count().orderBy("shard_id").show(5)
    probe = bottomk_sample(split.where("split = 'val'"), 25, id_col="doc_id")
    print("eval probe:", probe.count(), "docs")

    # 5. export: training chunks as JSONL (the interchange format trainers
    #    consume), size-capped so re-reads parallelize; read back with an
    #    explicit schema — no inference pass
    import tempfile

    from ffn_polars_spark.sources import read_jsonl, write_jsonl

    out_dir = tempfile.mkdtemp(prefix="ffn_corpus_out_") + "/chunks"
    train_chunks = chunks.join(
        split.where("split = 'train'").select("doc_id"), "doc_id"
    )
    write_jsonl(train_chunks, out_dir, max_records_per_file=100_000)
    back = read_jsonl(spark, out_dir, schema=train_chunks.schema)
    print("exported chunks:", back.count(), "->", out_dir)

    # 6. corpus-health panel: substring-dedup scrub, per-source balance
    #    (Gini + hard cap), vocabulary Zipf fit, and centroid separation
    from ffn_polars_spark.operators.pipeline import cap_per_group
    from ffn_polars_spark.operators.quality import gini_by_group
    from ffn_polars_spark.operators.text import scrub_spans, zipf_slope

    scrubbed = scrub_spans(docs, width=5, min_docs=2)
    scrubbed.selectExpr(
        "sum(n_removed) AS words_scrubbed", "sum(n_words) AS words_total"
    ).show()
    gini_by_group(docs, "n_chars", group_col="source").orderBy("source").show(5)
    capped = cap_per_group(docs, 10, group_col="source")
    print("after per-source cap:", capped.count(), "docs")
    zipf_slope(docs).show()
    from ffn_polars_spark.operators.text import doc_entropy

    doc_entropy(docs, unit="word").orderBy("entropy").show(3)
    from ffn_polars_spark.operators.text import vocab_jsd

    vocab_jsd(docs, "source", "src0", "src1").show()

    spark.stop()


if __name__ == "__main__":
    main()

"""deterministic_split / shard_by_tokens / sampling / winnow contracts."""

from pyspark.sql import functions as F

from ffn_polars_spark.operators.pipeline import (
    deterministic_split,
    domain_mix,
    shard_by_tokens,
    stratified_sample,
)
from ffn_polars_spark.operators.text import winnow_overlap_pairs


def test_split_is_deterministic_and_total(spark):
    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in deterministic_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in deterministic_split(docs.repartition(7)).collect()}
    assert a == b  # partitioning can't move a doc between splits
    assert len(a) == 500 and set(a.values()) <= {"train", "val", "test"}
    # weights are honored to within bucket granularity on a hash sample
    frac_train = sum(v == "train" for v in a.values()) / 500
    assert 0.8 < frac_train < 0.97


def test_split_salt_rerolls_and_weights_cut(spark):
    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    base = {r["doc_id"]: r["split"] for r in deterministic_split(docs).collect()}
    salted = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(docs, salt="v2").collect()
    }
    assert base != salted  # salt re-rolls assignment
    half = deterministic_split(docs, weights={"a": 0.5, "b": 0.5}).collect()
    for r in half:
        assert r["split"] == ("a" if r["bucket"] < 5000 else "b")


def test_shard_by_tokens_matches_serial_prefix_sum(spark):
    rows = [(i, "w " * (3 + (i * 7) % 11)) for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # the session's 4 slots give 4 cumsum blocks, exercising the offset pass
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in shard_by_tokens(docs, budget=50).collect()
    }
    cum = 0
    for i in range(200):
        n = len(rows[i][1].split())
        assert got[i] == (n, cum // 50)
        cum += n
    # shard ids are nondecreasing in doc order and start at 0
    shard_seq = [got[i][1] for i in range(200)]
    assert shard_seq[0] == 0 and all(a <= b for a, b in zip(shard_seq, shard_seq[1:]))


def _docs_with_sources(spark, n=600, n_src=3):
    return (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % n_src).cast("string")))
    )


def test_stratified_sample_rates_and_nesting(spark):
    docs = _docs_with_sources(spark)
    out = stratified_sample(docs, {"s0": 0.5, "s1": 0.1}, stratum_col="source")
    rows = out.collect()
    assert len(rows) == 600  # every doc present with an auditable decision
    kept = {r["doc_id"] for r in rows if r["keep"]}
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["keep"])
    # rates honored to hash-sample tolerance; unmapped stratum keeps all
    assert 0.35 < sum(by_src["s0"]) / len(by_src["s0"]) < 0.65
    assert sum(by_src["s1"]) / len(by_src["s1"]) < 0.25
    assert all(by_src["s2"])
    # nested: halving a rate keeps a strict subset (same buckets, lower cutoff)
    tighter = stratified_sample(docs, {"s0": 0.25, "s1": 0.05}, stratum_col="source")
    kept2 = {r["doc_id"] for r in tighter.collect() if r["keep"]}
    assert kept2 < kept
    # deterministic under repartitioning
    again = {
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(7), {"s0": 0.5, "s1": 0.1}, stratum_col="source"
        ).collect()
        if r["keep"]
    }
    assert again == kept


def test_domain_mix_hits_target_proportions(spark):
    # 300/200/100 docs of s0/s1/s2; target 1:1:1 → scarcest (s2) fully kept,
    # others downsampled to ~100 each
    docs = (
        spark.range(600)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.when(F.col("doc_id") < 300, "s0")
            .when(F.col("doc_id") < 500, "s1")
            .otherwise("s2"),
        )
    )
    out = domain_mix(docs, {"s0": 1.0, "s1": 1.0, "s2": 1.0}, stratum_col="source")
    rows = out.collect()
    assert len(rows) == 600
    rates = {r["source"]: r["rate"] for r in rows}
    assert rates["s2"] == 1.0  # scarcest domain: keep everything
    assert abs(rates["s0"] - 100 / 300) < 1e-6 and abs(rates["s1"] - 0.5) < 1e-6
    kept = {}
    for r in rows:
        kept[r["source"]] = kept.get(r["source"], 0) + bool(r["keep"])
    # expected ~100 per domain; hash-sample tolerance
    assert all(70 <= kept[s] <= 130 for s in ("s0", "s1")) and kept["s2"] == 100
    # a domain with zero target weight is dropped entirely
    drop = domain_mix(docs, {"s0": 1.0, "s1": 1.0}, stratum_col="source").collect()
    assert not any(r["keep"] for r in drop if r["source"] == "s2")


def test_winnow_overlap_pairs_finds_heavy_overlap_only(spark):
    shared = "a long identical run of characters that both documents quote verbatim"
    docs = spark.createDataFrame(
        [
            (1, f"intro {shared} outro one"),
            (2, f"completely different lead-in {shared}"),
            (3, "nothing in common with the others whatsoever zzz qqq"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r for r in winnow_overlap_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["containment"] > 0.4
    assert all(3 not in p for p in pairs)


def test_pack_sequences_matches_serial_packing(spark):
    # known token counts: doc i has i+1 tokens (words "w w w ...")
    n_docs, L = 40, 16
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i + 1))) for i in range(n_docs)], ["doc_id", "text"]
    )
    from ffn_polars_spark.operators.pipeline import pack_sequences

    rows = sorted(
        pack_sequences(docs, seq_len=L).collect(),
        key=lambda r: (r["doc_id"], r["seq_id"]),
    )
    # serial reference: concat docs in id order, chunk the stream every L
    expect, start = [], 0
    for i in range(n_docs):
        n = i + 1
        first, last = start // L, (start + n - 1) // L
        for s in range(first, last + 1):
            ts, te = max(s * L - start, 0), min(n, (s + 1) * L - start)
            expect.append((i, n, s, ts, te, max(start - s * L, 0), te - ts))
        start += n
    got = [
        (r["doc_id"], r["n_tokens"], r["seq_id"], r["tok_start"], r["tok_end"],
         r["seq_offset"], r["chunk_tokens"])
        for r in rows
    ]
    assert got == expect
    # every sequence except the last is exactly full
    per_seq = {}
    for _, _, s, *_rest, ct in got:
        per_seq[s] = per_seq.get(s, 0) + ct
    last_seq = max(per_seq)
    assert all(v == L for s, v in per_seq.items() if s != last_seq)
    assert sum(per_seq.values()) == sum(range(1, n_docs + 1))


def test_decontaminate_flags_shared_ngrams(spark):
    from ffn_polars_spark.operators.dedup import decontaminate

    leak = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [
            (1, f"some filler then {leak} and a tail"),
            (2, "totally clean document with zero overlap whatsoever here"),
            (3, leak),
        ],
        ["doc_id", "text"],
    )
    hold = spark.createDataFrame([(99, leak)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in decontaminate(train, hold).collect()}
    assert len(out) == 3
    assert out[1]["contaminated"] and out[3]["contaminated"]
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # doc 3 IS the benchmark text: every shingle hits
    assert out[3]["n_hits"] == out[3]["n_shingles"]
    assert out[3]["contaminated_frac"] == 1.0
    # min_hits raises the bar
    strict = {
        r["doc_id"]: r for r in decontaminate(train, hold, min_hits=1000).collect()
    }
    assert not any(r["contaminated"] for r in strict.values())


def test_kfold_assign_stable_and_balanced(spark):
    import hashlib

    from ffn_polars_spark.operators.pipeline import kfold_assign

    df = spark.range(0, 2000).selectExpr("id AS doc_id")
    out = {r.doc_id: r.fold for r in kfold_assign(df, k=5).collect()}
    # matches an independent python md5 replay
    for i in (0, 1, 999, 1999):
        want = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5
        assert out[i] == want
    # folds roughly balanced (binomial: 400 +- ~5 sigma)
    from collections import Counter

    sizes = Counter(out.values())
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert all(300 < n < 500 for n in sizes.values())
    # salt re-rolls
    out2 = {r.doc_id: r.fold for r in kfold_assign(df, k=5, salt="x").collect()}
    assert out != out2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kfold_assign(df, k=1)


def test_time_split_is_temporal_and_total(spark):
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.pipeline import time_split

    df = spark.range(0, 100).selectExpr("id AS event_id", "id * 10 AS ts_ns")
    out = time_split(df, train_frac=0.8).collect()
    cut = out[0].cutoff_ts
    for r in out:
        assert r.cutoff_ts == cut  # one global boundary
        assert (r.split == "train") == (r.ts_ns < cut)
    # every train ts strictly precedes every test ts: no leakage
    max_train = max(r.ts_ns for r in out if r.split == "train")
    min_test = min(r.ts_ns for r in out if r.split == "test")
    assert max_train < min_test
    n_train = sum(1 for r in out if r.split == "train")
    assert 75 <= n_train <= 85


def test_label_stats_entropy(spark):
    import math

    from ffn_polars_spark.operators.pipeline import label_stats

    # 50/50 binary labels -> exactly 1 bit
    df = spark.range(0, 100).selectExpr("id % 2 AS label")
    rows = label_stats(df).collect()
    assert all(r.entropy_bits == 1.0 for r in rows)
    assert {r.label: r.frac for r in rows} == {0: 0.5, 1: 0.5}
    # one class -> 0 bits (with -0.0 normalized)
    one = label_stats(spark.range(0, 10).selectExpr("1 AS label")).collect()
    assert abs(one[0].entropy_bits) == 0.0 and one[0].frac == 1.0

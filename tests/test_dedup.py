"""Dedup-operator tests: exact groups, MinHash-LSH recall vs exact Jaccard,
SimHash neighborhood sanity — on constructed near-duplicate corpora."""

import random

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.operators.dedup import (
    containment_pairs,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_simhash,
    ngram_jaccard_pairs,
)
from ffn_polars_spark.operators.text import winnow_overlap_pairs
from tests.conftest import jobs_in_group

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


def _doc(rng, n=60):
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(11)
    docs = []
    for i in range(40):
        docs.append((i, _doc(rng)))
    # 10 near-duplicates: copy doc i with ONE word changed (high jaccard)
    for j in range(10):
        base = docs[j][1].split()
        base[7] = "zulu"
        docs.append((100 + j, " ".join(base)))
    # 3 exact duplicates (whitespace/case variants)
    docs.append((200, docs[0][1].upper()))
    docs.append((201, "  " + docs[1][1] + " "))
    return spark.createDataFrame(docs, ["doc_id", "text"])


def test_dedup_exact(spark, corpus):
    out = dedup_exact(corpus)
    dups = {r["doc_id"]: r["canonical_id"] for r in out.where("is_duplicate").collect()}
    assert dups == {200: 0, 201: 1}


def test_minhash_recall_vs_exact(spark, corpus):
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(corpus, threshold=0.6).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_lsh(corpus, threshold=0.6).collect()
    }
    assert exact, "constructed near-dups must register as exact pairs"
    # verified LSH output is a subset of exact pairs with high recall
    assert approx.issubset(exact)
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall}"


def test_minhash_estimates_jaccard(spark, corpus):
    # verify=True recomputes exact jaccard on candidates: values must agree
    # with the exact operator on the common pairs
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.6).collect()
    }
    for r in dedup_minhash_lsh(corpus, threshold=0.6).collect():
        assert exact[(r["id_a"], r["id_b"])] == pytest.approx(r["jaccard"], abs=1e-9)


def test_simhash_finds_near_dups(spark):
    # SimHash granularity: a 1-word edit in a 400-word doc perturbs ~3 of
    # ~400 shingles -> hamming mostly <= 4; the 16-bit-chunk pigeonhole
    # *guarantees* retrieval at hamming <= 3 and probabilistically beyond.
    rng = random.Random(13)
    docs = []
    for i in range(10):
        d = [rng.choice(WORDS) for _ in range(400)]
        docs.append((i, " ".join(d)))
        d2 = list(d)
        d2[7] = "zulu"
        docs.append((100 + i, " ".join(d2)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in dedup_simhash(df, max_hamming=6).collect()}
    hits = sum(1 for j in range(10) if (j, 100 + j) in pairs)
    assert hits >= 7, f"simhash found only {hits}/10 planted near-dups"


def test_simhash_exact_duplicates_zero_hamming(spark, corpus):
    zero = {
        (r["id_a"], r["id_b"]) for r in dedup_simhash(corpus, max_hamming=0).collect()
    }
    assert (1, 201) in zero


def test_num_hashes_bands_contract(spark, corpus):
    with pytest.raises(ValueError, match="divisible"):
        dedup_minhash_lsh(corpus, num_hashes=100, bands=33)


def test_connected_components_chain_and_clusters(spark):
    from ffn_polars_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 round), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_assign_canonical(spark, corpus):
    from ffn_polars_spark.operators.dedup import (
        dedup_assign_canonical,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(corpus, threshold=0.6)
    out = {r["doc_id"]: r for r in dedup_assign_canonical(corpus, pairs).collect()}
    assert len(out) == corpus.count()
    # the planted near-dups (100+j copies of doc j) collapse onto doc j
    dup_hits = sum(
        1 for j in range(10) if out[100 + j]["canonical_id"] == j and out[100 + j]["is_duplicate"]
    )
    assert dup_hits >= 9
    # untouched docs are their own canonical
    assert not out[30]["is_duplicate"] and out[30]["canonical_id"] == 30


def test_minhash_band_verify_mode(spark, corpus):
    # verify="band" returns raw candidates (no jaccard column), a superset of
    # the exact-verified pairs at any threshold
    cands = dedup_minhash_lsh(corpus, verify="band")
    assert set(cands.columns) == {"id_a", "id_b"}
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_lsh(corpus, threshold=0.6).collect()
    }
    assert exact.issubset(cand_pairs)
    with pytest.raises(ValueError, match="verify"):
        dedup_minhash_lsh(corpus, verify="bogus")


# The hot-key cut of the three inverted-index operators: (operator, its cap
# parameter, its score arguments). winnow caps at 1024 by default.
HOT_KEY_CUTS = [
    (ngram_jaccard_pairs, "max_shingle_df", dict(threshold=0.1)),
    (containment_pairs, "max_shingle_df", dict(threshold=0.1)),
    (winnow_overlap_pairs, "max_fp_df", dict()),
]
HOT_KEY_IDS = [fn.__name__ for fn, _, _ in HOT_KEY_CUTS]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fn, cap, kw", HOT_KEY_CUTS, ids=HOT_KEY_IDS)
def test_hot_key_cutoff_identity(spark, corpus, fn, cap, kw):
    # with a cutoff no key reaches, results are bit-identical to uncapped
    base = _sorted_rows(fn(corpus, **kw, **{cap: None}))
    assert base
    assert _sorted_rows(fn(corpus, **kw, **{cap: 10_000})) == base


@pytest.mark.parametrize("fn, cap, kw", HOT_KEY_CUTS, ids=HOT_KEY_IDS)
def test_hot_key_cutoff_drops_hot(spark, fn, cap, kw):
    # every doc shares the hot prefix; the tails are seeded random
    # consonant words, each tail starting with its own letter, and share no
    # pair's worth of shingles or fingerprints. With the cutoff the shared
    # keys are dropped, so the all-pairs blowup from them disappears
    hot = "the quick brown fox jumps"
    rng = random.Random(5)
    tail = lambda i: chr(ord("a") + i) + "".join(  # noqa: E731
        rng.choice("bcdfghjklmnpqrstvwxz") if j % 6 else " " for j in range(1, 30)
    )
    df = spark.createDataFrame(
        [(i, f"{hot} {tail(i)}") for i in range(20)], ["doc_id", "text"]
    )
    assert fn(df, **kw, **{cap: None}).count() > 0
    assert fn(df, **kw, **{cap: 5}).count() == 0


def test_release_pins(spark, corpus):
    from ffn_polars_spark import pins

    pins.release_pins()  # clean slate
    dedup_minhash_lsh(corpus, threshold=0.6).count()
    assert len(pins._ACTIVE_PINS) > 0
    released = pins.release_pins()
    assert released > 0 and not pins._ACTIVE_PINS


def test_pinned_scope(spark, corpus):
    from ffn_polars_spark import pins

    pins.release_pins()
    with pins.pinned_scope():
        ngram_jaccard_pairs(corpus, threshold=0.6).count()
        assert len(pins._ACTIVE_PINS) > 0
    assert not pins._ACTIVE_PINS


def test_connected_components_bounded_lineage(spark):
    """Iterative label propagation must checkpoint each round: the returned
    frame's plan has to be a flat scan of the checkpointed RDD, not a
    join-tree that deepens per iteration (the classic lineage blow-up that
    kills iterative jobs at 100 TB)."""
    from ffn_polars_spark.operators.dedup import connected_components
    from ffn_polars_spark.plans import has_join, plan_nodes

    # a 12-node chain: diameter forces several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    out = connected_components(pairs)
    found = [n.name for n in plan_nodes(out)]
    # checkpoint truncation: the lineage root is an in-memory RDD scan, and
    # the multi-round join/agg tree is gone from the final plan (the scan
    # and at most its codegen wrappers remain)
    assert "RDDScanExec" in found, found
    assert not has_join(out), found
    assert len(found) <= 3, found
    # and it still converges to the chain's minimum label
    assert {r["comp"] for r in out.collect()} == {0}


def test_executor_heap_bytes_parses_spark_memory_grammar():
    """spark.executor.memory follows Spark's byteStringAsMb grammar:
    one-letter (k/m/g/t) and two-letter (kb/mb/gb/tb) binary suffixes, and a
    UNIT-LESS value means MiB ('8192' is 8 GiB, not 8192 bytes). Mis-parsing
    over-estimates the executor heap and lets pins.pin pin frames
    that GC-thrash real executors."""
    from ffn_polars_spark.pins import _executor_heap_bytes

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key, default=None):
            return self._v

    class _Stub:
        def __init__(self, v):
            self.conf = _Conf(v)
        # no sparkContext: the JVM fallback must not be reached for any
        # string the grammar accepts

    assert _executor_heap_bytes(_Stub("4g")) == 4 << 30
    assert _executor_heap_bytes(_Stub("4gb")) == 4 << 30
    assert _executor_heap_bytes(_Stub("512m")) == 512 << 20
    assert _executor_heap_bytes(_Stub("512mb")) == 512 << 20
    assert _executor_heap_bytes(_Stub("1024k")) == 1 << 20
    assert _executor_heap_bytes(_Stub("1024kb")) == 1 << 20
    assert _executor_heap_bytes(_Stub("2t")) == 2 << 40
    assert _executor_heap_bytes(_Stub("2tb")) == 2 << 40
    assert _executor_heap_bytes(_Stub("1p")) == 1 << 50
    assert _executor_heap_bytes(_Stub("1pb")) == 1 << 50
    assert _executor_heap_bytes(_Stub("123b")) == 123
    assert _executor_heap_bytes(_Stub(" 8G ")) == 8 << 30  # case/space
    # fractional values are NOT in Spark's byteStringAsMb grammar (Spark
    # throws on "1.5g"); parse failure falls through to the JVM probe ->
    # safe default, matching the fail-safe direction
    assert _executor_heap_bytes(_Stub("1.5g")) == 8 << 30
    # unit-less = MiB (Spark byteStringAsMb), NOT bytes
    assert _executor_heap_bytes(_Stub("8192")) == 8192 << 20
    # unparseable: fall through to the (absent) JVM probe -> safe default,
    # never a silent wrong number
    assert _executor_heap_bytes(_Stub("lots")) == 8 << 30
    assert _executor_heap_bytes(_Stub(None)) == 8 << 30


def _corpus_and_parquet_copy(spark, corpus, tmp_path):
    """The in-memory corpus and a footer-proven tiny parquet copy of it."""
    path = str(tmp_path / "docs.parquet")
    corpus.write.mode("overwrite").parquet(path)
    return corpus, spark.read.parquet(path)


def test_minhash_construction_count_budget_per_strategy(spark, corpus, tmp_path):
    """Building dedup_minhash_lsh launches no Spark job, on an in-memory
    frame and on a tiny parquet copy alike: the shingle-array pin is lazy,
    and candidates come from one groupBy on the bucket key, so there is no
    bucket pin to count. A construction-time pass over the corpus-sized
    derivation (the old slowest-headline fat: ~5 s of task-time at sf0.1)
    is a regression. There is one candidate strategy, so the budget is 0
    for every input."""
    from ffn_polars_spark.pins import release_pins

    for frame in _corpus_and_parquet_copy(spark, corpus, tmp_path):
        release_pins()
        built = []
        n_jobs = jobs_in_group(
            spark,
            lambda: built.append(
                dedup_minhash_lsh(frame, threshold=0.5, hash_fn="md5")
            ),
        )
        assert n_jobs == 0, f"construction launched {n_jobs} jobs"
        # the plan still executes correctly (lazily-pinned arrays)
        assert built[0].count() > 0
    release_pins()


def test_minhash_candidate_strategy_auto_and_identity(spark, corpus, tmp_path):
    """The in-memory frame and a tiny parquet copy (the input that once
    routed to a separate self-join strategy) take the same candidate path
    and return the identical pair set, jaccard values included."""
    from ffn_polars_spark.pins import release_pins

    pairs = []
    for frame in _corpus_and_parquet_copy(spark, corpus, tmp_path):
        release_pins()
        pairs.append(
            sorted(
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in dedup_minhash_lsh(
                    frame, threshold=0.5, hash_fn="md5"
                ).collect()
            )
        )
    release_pins()
    assert pairs[0] == pairs[1]
    assert len(pairs[0]) > 0


def test_minhash_max_bucket_cap(spark):
    """The hot-bucket valve: identical docs share every band bucket, so a
    bucket-size cap below the clone-group size drops ALL their buckets
    (no pairs emitted), while distinct-but-near docs keep pairing through
    their other bands. Default (None) is uncapped — bit-identical to the
    oracle twin."""
    from ffn_polars_spark.pins import release_pins

    # 6 identical clones (degenerate bucket of 6 in all 16 bands) plus
    # 2 near-dup docs that share most shingles but not all bands
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(6)]
    rows.append((10, base + " lambda mu nu xi omicron"))
    rows.append((11, base + " lambda mu nu xi pi"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_lsh(df, threshold=0.5).collect()
    }
    release_pins()
    # all 15 clone pairs present uncapped
    assert {(a, b) for a in range(6) for b in range(a + 1, 6)} <= uncapped

    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup_minhash_lsh(df, threshold=0.5, max_bucket=5).collect()
    }
    release_pins()
    # clone-group buckets (size 6 > 5) are dropped entirely...
    assert not any(a < 6 and b < 6 for a, b in capped)
    # ...but the near-dup pair still pairs through its own buckets
    assert (10, 11) in capped


def test_md5_fused_kernels_match_unfused_kernels(spark, corpus):
    """r13: in md5 mode the shingle build + hash + signature fuse into one
    Arrow kernel (dedup._md5_minhash_arrow / _md5_simhash_arrow). The fused
    signatures must be BIT-identical to the unfused chain: the JVM md5/conv
    shingle hashes (_doc_shingle_arrays) fed to the separate minhash and
    simhash kernels. The JVM hash projection is the independent reference
    for the kernels' Python hashing; the DuckDB oracle checks the pipelines
    end to end."""
    import ffn_polars_spark.operators.dedup as D

    kernel = D._md5_minhash_arrow(D._minhash_coeffs(64, 42), 3)
    fused = {
        r["__id"]: list(r["__o"]["sig"])
        for r in D._tokens_frame(corpus, "text", "doc_id", 3)
        .select("__id", kernel(F.col("__toks")).alias("__o"))
        .collect()
    }
    unfused = {
        r["doc_id"]: [r[f"__mh{k}"] for k in range(64)]
        for r in D.minhash_signatures(corpus, hash_fn="md5").collect()
    }
    assert fused and fused == unfused

    sim_fused = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(corpus, hash_fn="md5").collect()
    }
    sim_unfused = {
        r["__id"]: r["simhash"]
        for r in D._doc_shingle_arrays(corpus, "text", "doc_id", 3, "md5")
        .select("__id", D._simhash_arrow()(F.col("__h64")).alias("simhash"))
        .collect()
    }
    assert sim_fused and sim_fused == sim_unfused


def test_md5_fused_kernel_h64_is_raw_hash(spark, corpus):
    """r14 (advice fix): the fused kernel's h64 must carry the RAW 60-bit
    md5 hashes — bit-equal to the JVM _hash64(col, 'md5') projection — not
    their mod-P reductions. The exact-verify Jaccard intersects h64, so a
    mod-P h64 silently raises collision probability from ~2^-60 to ~2^-31;
    the signature parity test above cannot see that on a collision-free
    tiny corpus, so compare the arrays element-for-element here."""
    import ffn_polars_spark.operators.dedup as D

    kernel = D._md5_minhash_arrow(D._minhash_coeffs(4, 42), 3)
    fused = {
        r["__id"]: sorted(r["__o"]["h64"])
        for r in D._tokens_frame(corpus, "text", "doc_id", 3)
        .select("__id", kernel(F.col("__toks")).alias("__o"))
        .collect()
    }
    jvm = {
        r["__id"]: sorted(r["__h64"])
        for r in D._doc_shingle_arrays(corpus, "text", "doc_id", 3, "md5")
        .select("__id", "__h64")
        .collect()
    }
    assert fused == jvm
    # raw 60-bit hashes: values this large cannot be mod-P residues
    assert any(h >= (1 << 31) - 1 for hs in fused.values() for h in hs)


def test_dedup_exact_window_null_text_dropped(spark):
    """r13: canonical-id resolution moved from groupBy+join-back to a window;
    the explicit fingerprint-NOT-NULL filter must reproduce the old inner
    join's null-key drop (a NULL text row has a NULL fingerprint)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "A  b C")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in dedup_exact(df).collect()}
    assert set(rows) == {1, 3}
    assert rows[3]["canonical_id"] == 1 and rows[3]["is_duplicate"]
    assert not rows[1]["is_duplicate"]


def test_group_pairs_hot_bucket_valve_and_streamed_pairs(spark):
    """r14 hot-bucket memory fixes (verdict #3 / advice), pinned three ways:

    1. VALVE PLACEMENT: with ``max_bucket`` set, the cap filters on a
       window COUNT of the bucket key *below* the collect_list aggregate —
       the r13 shape filtered ``size(__ids)`` after the aggregate, so a
       degenerate bucket's full id-list materialized in one unspillable
       ObjectHashAggregate buffer before being dropped. The window's row
       buffer spills; the aggregate's cannot.
    2. STREAMED PAIRS: in-bucket pair expansion goes through
       posexplode + slice generates; no ``flatten(transform(...))``
       quadratic in-row pair array anywhere in the optimized plan.
    3. SEMANTICS: the valve drops exactly the over-cap buckets (same
       observable behavior as r13), for both dedup_minhash_lsh's
       candidate groups and dedup_simhash's ``max_bucket``.
    """
    from ffn_polars_spark.pins import release_pins
    from ffn_polars_spark.plans import plan_nodes

    def flatten_free(nodes) -> bool:
        return not [n for n in nodes if "Flatten" in n.expr_classes()]

    # 10 identical docs: every band/chunk bucket holds all 10
    docs = spark.createDataFrame(
        [(i, "alpha bravo charlie delta echo foxtrot") for i in range(10)],
        ["doc_id", "text"],
    )
    for fn, kw in (
        (dedup_minhash_lsh, dict(threshold=0.5, hash_fn="md5")),
        (dedup_simhash, dict(max_hamming=3, hash_fn="md5")),
    ):
        nodes = plan_nodes(fn(docs, max_bucket=5, **kw))
        assert flatten_free(nodes), f"{fn.__name__}: quadratic pair array"
        # the __bn window-count filter must sit BELOW the collect_list
        # aggregate: the valve drops hot buckets before they are collected
        collects = [
            n for n in nodes
            if "Aggregate" in n.name and "CollectList" in n.expr_classes()
        ]
        assert collects, f"{fn.__name__}: no collect_list aggregate"
        for agg in collects:
            assert any(
                d.name == "FilterExec" and any("__bn" in e for e in d.exprs())
                for d in agg.descendants()
            ), f"{fn.__name__}: valve not below collect"
        # hamming/size filters above the aggregate must not re-introduce a
        # post-collect size(...) cap
        assert [n.name for n in nodes].count("WindowExec") >= 1
        # cap 5 < bucket size 10 -> every bucket dropped, zero pairs
        assert fn(docs, max_bucket=5, **kw).count() == 0
        # cap 20 -> all C(10,2) pairs survive (identical docs)
        assert fn(docs, max_bucket=20, **kw).count() == 45
        release_pins()
    # uncapped plans must also be flatten-free (streamed pairs are
    # unconditional)
    assert flatten_free(
        plan_nodes(dedup_minhash_lsh(docs, threshold=0.5, hash_fn="md5"))
    )
    assert flatten_free(plan_nodes(dedup_simhash(docs, hash_fn="md5")))
    release_pins()

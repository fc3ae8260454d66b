"""Similarity-search tests: cosine vs numpy, exact top-k, LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffn_polars_spark.operators.similarity import (
    ann_topk,
    ann_topk_lsh,
    cosine,
    embedding_cosine_pairs,
)
from ffn_polars_spark.plans import plan_nodes

DIM = 16


def repartitions(df):
    """Repartition / RepartitionByExpression nodes of the optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return [n.name for n in plan_nodes(plan) if n.name.startswith("Repartition")]


@pytest.fixture(scope="module")
def embdf(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, DIM)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(30)]
    # planted near-duplicates of vectors 0..4 (tiny perturbation)
    for j in range(5):
        rows.append((100 + j, (base[j] + 0.01 * rng.standard_normal(DIM).astype("float32")).tolist()))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_cosine_matches_numpy(spark, embdf):
    rows = embdf.orderBy("vec_id").limit(2).collect()
    a = np.array(rows[0]["embedding"], dtype="float64")
    b = np.array(rows[1]["embedding"], dtype="float64")
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame(
        [(rows[0]["embedding"], rows[1]["embedding"])], ["a", "b"]
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    assert got == pytest.approx(expected, abs=1e-9)


def test_cosine_pairs_finds_planted(spark, embdf):
    pairs = {
        (r["id_a"], r["id_b"]) for r in embedding_cosine_pairs(embdf, threshold=0.95).collect()
    }
    for j in range(5):
        assert (j, 100 + j) in pairs


def test_ann_topk_exact(spark, embdf):
    out = ann_topk(embdf, embdf.where("vec_id < 2"), k=3)
    rows = out.orderBy("query_id", "rank").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["item_id"])
    # nearest neighbor of 0 is its planted near-dup 100, of 1 is 101
    assert by_q[0][0] == 100
    assert by_q[1][0] == 101
    assert all(len(v) == 3 for v in by_q.values())


def test_ann_topk_lsh_recall(spark, embdf):
    exact = {
        (r["query_id"], r["item_id"])
        for r in ann_topk(embdf, embdf.where("vec_id < 5"), k=3).collect()
    }
    approx = {
        (r["query_id"], r["item_id"])
        for r in ann_topk_lsh(
            embdf, embdf.where("vec_id < 5"), k=3, planes=6, tables=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall}"
    # the planted near-dup must be retrieved for every query
    for j in range(5):
        assert (j, 100 + j) in approx


# ---------------------------------------------------------------------------
# Multimodal plumbing additions (audio features, resize, frame sampling).
# ---------------------------------------------------------------------------


def test_audio_features_and_resize(spark):
    import pytest
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.multimodal import (
        decode_audio,
        extract_audio_features,
        resize_images,
        sample_frames,
        text_as_binary,
    )

    docs = spark.createDataFrame(
        [(1, "hello world " * 50), (2, "tiny")], ["doc_id", "text"]
    )
    b = text_as_binary(docs)

    audio = {r["doc_id"]: r for r in extract_audio_features(b).collect()}
    assert audio[1]["n_bytes"] == 600
    assert audio[1]["sample_rate"] in (8000, 16000, 24000)
    assert audio[1]["duration_s"] == pytest.approx(
        600 / audio[1]["sample_rate"]
    )

    rs = {r["doc_id"]: r for r in resize_images(b, target=8).collect()}
    assert all(len(r["content"]) == 8 * 8 * 3 for r in rs.values())
    assert rs[2]["width"] == 8 and rs[2]["height"] == 8
    # deterministic: same input -> same bytes
    rs2 = {r["doc_id"]: r for r in resize_images(b, target=8).collect()}
    assert rs[1]["content"] == rs2[1]["content"]

    frames = sample_frames(b, every_n_bytes=100, max_frames=4).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["byte_offset"])
    assert per_doc[1] == [0, 100, 200, 300]  # capped at max_frames
    assert per_doc[2] == [0]

    with pytest.raises(NotImplementedError):
        decode_audio(b"xx", fake=False)


def test_bruteforce_guard(spark):
    import pytest
    from ffn_polars_spark.operators.similarity import embedding_cosine_pairs

    df = spark.range(50).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0f, 2.0f) AS embedding"
    )
    with pytest.raises(ValueError, match="O\\(n²\\)|max_rows"):
        embedding_cosine_pairs(df, max_rows=10)
    # explicit opt-outs both work
    assert embedding_cosine_pairs(df, max_rows=10, allow_bruteforce=True).count() >= 0
    assert embedding_cosine_pairs(df, max_rows=0).count() >= 0


def test_ann_topk_ivf_recall(spark, embdf):
    from ffn_polars_spark.operators.similarity import ann_topk_ivf

    queries = embdf.where("vec_id < 5")
    exact = {}
    for r in ann_topk(embdf, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["item_id"])
    approx = {}
    for r in ann_topk_ivf(embdf, queries, k=5, nlist=4, nprobe=2).collect():
        approx.setdefault(r["query_id"], set()).add(r["item_id"])
    # every query's planted near-dup (100+q, cosine ~1) must be retrieved:
    # it lands in the same cell as its query by construction
    for q in range(5):
        assert 100 + q in approx[q], f"query {q} missed its near-dup"
    # overall recall vs exact top-5 with half the cells probed
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.6, f"IVF recall {hits}/{total}"


def test_ann_topk_ivf_full_probe_is_exact(spark, embdf):
    from ffn_polars_spark.operators.similarity import ann_topk_ivf

    queries = embdf.where("vec_id < 3")
    exact = {(r["query_id"], r["rank"], r["item_id"])
             for r in ann_topk(embdf, queries, k=4).collect()}
    # probing every cell degenerates to the exact scan
    full = {(r["query_id"], r["rank"], r["item_id"])
            for r in ann_topk_ivf(embdf, queries, k=4, nlist=4, nprobe=4).collect()}
    assert full == exact


def test_ann_topk_scale_guard(spark):
    """Exact ann_topk must refuse an items x queries product over max_pairs
    (the 100 TB cluster-melt guard) and honor both opt-outs."""
    df = spark.range(100).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0f, 2.0f) AS embedding"
    )
    q = df.where("vec_id < 50")
    with pytest.raises(ValueError, match="ann_topk_lsh|max_pairs"):
        ann_topk(df, q, k=3, max_pairs=1000)
    assert ann_topk(df, q, k=3, max_pairs=1000, allow_bruteforce=True).count() > 0
    assert ann_topk(df, q, k=3, max_pairs=0).count() > 0


def test_catalog_embedding_dim(spark):
    """The ANN oracle SQL bakes hyperplane/centroid literals of width
    _EMB_DIM; fail loudly here if the driver ever regenerates embeddings
    with another width."""
    import os

    from tests.conftest import TESTDATA
    from ffn_polars_spark.queries import _EMB_DIM
    from ffn_polars_spark.sources import read_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = os.path.join(TESTDATA, sf)
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            continue
        first = read_table(spark, d, "embeddings").first()
        assert len(first["embedding"]) == _EMB_DIM, sf


def test_ann_topk_ivf_fixed_centroids_match_trained_api(spark, embdf):
    """centroids= skips training but must flow through the same search path:
    full-probe with ANY quantizer equals the exact scan."""
    from ffn_polars_spark.operators.similarity import ann_topk_ivf
    from ffn_polars_spark.queries import _ivf_fixed_centroids

    queries = embdf.where("vec_id < 3")
    exact = {(r["query_id"], r["rank"], r["item_id"])
             for r in ann_topk(embdf, queries, k=4).collect()}
    cents = _ivf_fixed_centroids(4, dim=len(embdf.first()["embedding"]))
    full = {(r["query_id"], r["rank"], r["item_id"])
            for r in ann_topk_ivf(embdf, queries, k=4, nlist=4, nprobe=4,
                                  centroids=cents).collect()}
    assert full == exact


def test_guard_probes_are_limit_bounded(spark, monkeypatch):
    """The scale guards must never run an unbounded count job: every count
    the guard triggers has to sit under a GlobalLimit (a bounded probe that
    reads at most cap+1 rows at any data scale). Guards ran full count()
    scans in round 4 — this pins the round-5 fix."""
    from ffn_polars_spark.operators.similarity import _SEM_COUNT_CACHE

    _SEM_COUNT_CACHE.clear()  # isolate from identical plans cached earlier
    import pyspark.sql.classic.dataframe as dfmod

    recorded = []
    orig = dfmod.DataFrame.count

    def counting(self):
        # analyzed (pre-optimization) plan: Catalyst's EliminateLimits rule
        # legitimately strips the limit when the input is provably smaller
        # (e.g. a Range source), so the optimized plan can't express intent
        analyzed = self._jdf.queryExecution().analyzed()
        recorded.append([n.name for n in plan_nodes(analyzed)])
        return orig(self)

    monkeypatch.setattr(dfmod.DataFrame, "count", counting)

    df = spark.range(200).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0f, 2.0f) AS embedding"
    )
    q = df.where("vec_id < 3")

    # passing guard (product 200*3 <= max_pairs)
    ann_topk(df, q, k=3, max_pairs=10_000)
    # tripping guard
    with pytest.raises(ValueError):
        ann_topk(df, q, k=3, max_pairs=100)
    # embedding_cosine_pairs guard, both directions
    embedding_cosine_pairs(df, max_rows=1000)
    with pytest.raises(ValueError):
        embedding_cosine_pairs(df, max_rows=10)

    assert recorded, "guards should have probed"
    for plan in recorded:
        assert "GlobalLimit" in plan, f"unbounded count job in guard:\n{plan}"


def test_count_at_most_bounded_and_cached(spark):
    from ffn_polars_spark.operators.similarity import (
        _PROBE_CAP,
        _SEM_COUNT_CACHE,
        _count_at_most,
    )

    _SEM_COUNT_CACHE.clear()  # isolate from identical plans cached earlier
    df = spark.range(1000).selectExpr("id AS vec_id")
    # bounded probe saturates at cap+1, never reports more
    assert _count_at_most(df, "vec_id", 10) == 11
    # exact when under the cap
    assert _count_at_most(df, "vec_id", 5000) == 1000
    # above the probe budget: exact count, cached per DataFrame object
    big_cap = _PROBE_CAP + 1
    assert _count_at_most(df, "vec_id", big_cap) == 1000
    from ffn_polars_spark.operators.similarity import _COUNT_CACHE

    assert _COUNT_CACHE.get(df) == 1000
    # cache hit short-circuits even small-cap probes
    assert _count_at_most(df, "vec_id", 10) == 1000


def test_count_at_most_large_cap_stays_probe_bounded(spark, monkeypatch):
    """cap > _PROBE_CAP must NOT short-circuit to a full count(): the probe
    runs first at min(cap, _PROBE_CAP)+1 and, when it doesn't saturate, IS
    the exact answer. Round 5's guard ran an unbounded count whenever
    max_pairs // n_q exceeded 1M (i.e. the common small-query-side case) —
    this pins the round-6 fix."""
    from ffn_polars_spark.operators.similarity import _SEM_COUNT_CACHE

    _SEM_COUNT_CACHE.clear()  # isolate from identical plans cached earlier
    import pyspark.sql.classic.dataframe as dfmod

    from ffn_polars_spark.operators.similarity import _PROBE_CAP

    recorded = []
    orig = dfmod.DataFrame.count

    def counting(self):
        analyzed = self._jdf.queryExecution().analyzed()
        recorded.append([n.name for n in plan_nodes(analyzed)])
        return orig(self)

    monkeypatch.setattr(dfmod.DataFrame, "count", counting)

    df = spark.range(500).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0f) AS embedding"
    )
    q = df.where("vec_id < 2")
    # default max_pairs=1e9, n_q=2 -> cap_i = 5e8 >> _PROBE_CAP: the old code
    # full-counted the item side here
    ann_topk(df, q, k=2)
    assert recorded, "guard should have probed"
    for plan in recorded:
        assert "GlobalLimit" in plan, f"unbounded count job in guard:\n{plan}"


def test_count_at_most_saturated_probe_escapes_to_exact(spark, monkeypatch):
    """When the probe saturates (> _PROBE_CAP rows) and the budget is still
    larger, the guard falls back to one exact cached count — correctness of
    the returned value over a saturating input."""
    from ffn_polars_spark.operators.similarity import _SEM_COUNT_CACHE

    _SEM_COUNT_CACHE.clear()  # isolate from identical plans cached earlier
    from ffn_polars_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "_PROBE_CAP", 50)
    df = spark.range(1000).selectExpr("id AS vec_id")
    # cap 10_000 > patched probe cap 50; probe saturates at 51 -> exact count
    assert sim._count_at_most(df, "vec_id", 10_000) == 1000
    assert sim._COUNT_CACHE.get(df) == 1000
    # saturating probe with cap <= probe cap still reports over-budget
    # (clear the semantic cache again: df2 shares df's plan semantics, and
    # a cache hit would return the exact 1000 — correct for callers, but
    # this assertion exercises the saturation path itself)
    _SEM_COUNT_CACHE.clear()
    df2 = spark.range(1000).selectExpr("id AS vec_id")
    assert sim._count_at_most(df2, "vec_id", 40) == 41


def test_embedding_quantize_roundtrip_and_zero_vector(spark):
    from ffn_polars_spark.operators.similarity import embedding_quantize

    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5, 127.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in embedding_quantize(df).collect()}
    # scale = 127/127 = 1.0 -> qvec is just round-half-up of the values
    assert out[0].scale == 1.0
    assert out[0].qvec == [1, -2, 1, 127]
    # zero vector: scale 0, all-zero qvec, no div-by-zero
    assert out[1].scale == 0.0 and out[1].qvec == [0, 0, 0, 0]
    # dequantization error bounded by scale/2 per component
    vals = [3.7, -9.2, 11.1, 0.4]
    df2 = spark.createDataFrame([(0, vals)], ["vec_id", "embedding"])
    r = embedding_quantize(df2).collect()[0]
    for x, q in zip(vals, r.qvec):
        assert abs(x - q * r.scale) <= r.scale / 2 + 1e-12


def test_embedding_normalize_unit_norm_and_zero_guard(spark):
    import math

    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.similarity import embedding_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in embedding_normalize(df).collect()}
    assert rows[1].norm == 5.0
    assert rows[1].uvec == [0.6, 0.8]
    # zero vector: NULL unit vector instead of an ANSI divide-by-zero
    assert rows[2].norm == 0.0 and rows[2].uvec is None
    assert rows[3].uvec == [1.0, 0.0]
    # normalized vectors have unit L2 norm
    for vid in (1, 3):
        assert math.isclose(sum(x * x for x in rows[vid].uvec), 1.0)


def test_centroid_similarity_hand_computed(spark):
    import numpy as np

    from ffn_polars_spark.operators.similarity import (
        centroid_similarity,
        embedding_centroids,
    )

    vecs = {
        0: [[1.0, 0.0], [3.0, 0.0]],          # centroid (2, 0)
        1: [[0.0, 2.0], [0.0, 4.0]],          # centroid (0, 3) -> orthogonal
        2: [[2.0, 2.0]],                      # centroid (2, 2)
        3: [[0.0, 0.0]],                      # zero centroid -> NULL cosine
    }
    rows = [
        (lab * 10 + j, v, lab)
        for lab, vs in vecs.items()
        for j, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    cents = {
        (r.label, r.dim): r.mu for r in embedding_centroids(df).collect()
    }
    assert cents[(0, 0)] == 2.0 and cents[(0, 1)] == 0.0
    assert cents[(1, 1)] == 3.0

    out = {
        (r.label_a, r.label_b): r
        for r in centroid_similarity(df).collect()
    }
    assert abs(out[(0, 1)].cosine) < 1e-12            # orthogonal
    assert abs(out[(0, 2)].cosine - np.sqrt(0.5)) < 1e-12
    assert abs(out[(1, 2)].cosine - np.sqrt(0.5)) < 1e-12
    for a in (0, 1, 2):
        assert out[(a, 3)].cosine is None             # zero centroid
    assert out[(0, 1)].n_a == 2 and out[(0, 1)].n_b == 2
    assert len(out) == 6                              # all a < b pairs


def test_embedding_top_pc_recovers_dominant_direction(spark):
    from ffn_polars_spark.operators.linalg import embedding_top_pc

    # vectors concentrated along e0 with small e1 noise: top PC ~ e0
    rows = [
        (1, [4.0, 0.5, 0.0]), (2, [4.0, -0.5, 0.0]),
        (3, [-4.0, 0.5, 0.0]), (4, [-4.0, -0.5, 0.0]),
    ]
    out = {r["component"]: r for r in embedding_top_pc(
        spark.createDataFrame(rows, ["vec_id", "embedding"]), iterations=15
    ).collect()}
    assert len(out) == 3
    assert abs(abs(out[0]["loading"]) - 1.0) < 1e-3
    assert abs(out[1]["loading"]) < 1e-3 and abs(out[2]["loading"]) < 1e-3
    # eigenvalue ~ sum of squared e0 components = 4 * 16 = 64
    assert abs(out[0]["eigenvalue"] - 64.0) < 1.0


def test_embedding_top_pc_unit_norm_output(spark):
    from ffn_polars_spark.operators.linalg import embedding_top_pc

    rows = [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(1, 30)]
    out = embedding_top_pc(
        spark.createDataFrame(rows, ["vec_id", "embedding"])
    ).collect()
    norm2 = sum(r["loading"] ** 2 for r in out)
    # quantized to 2^-15, so unit within ~d * 2^-14
    assert abs(norm2 - 1.0) < 1e-3
    assert all(r["eigenvalue"] == out[0]["eigenvalue"] for r in out)


def test_embedding_remove_pc_kills_dominant_direction(spark):
    from ffn_polars_spark.operators.linalg import embedding_remove_pc

    rows = [
        (1, [4.0, 0.5, 0.0]), (2, [4.0, -0.5, 0.0]),
        (3, [-4.0, 0.5, 0.0]), (4, [-4.0, -0.5, 0.0]),
    ]
    out = embedding_remove_pc(
        spark.createDataFrame(rows, ["vec_id", "embedding"]), iterations=15
    ).collect()
    got = {(r["vec_id"], r["component"]): r["residual"] for r in out}
    assert len(got) == 12
    # the e0 component is projected out; e1 survives
    for vid in (1, 2, 3, 4):
        assert abs(got[(vid, 0)]) < 1e-2
        assert abs(abs(got[(vid, 1)]) - 0.5) < 1e-2


def test_centroid_outliers_flags_the_planted_point(spark):
    from ffn_polars_spark.operators.similarity import centroid_outliers

    # label 0: a tight cluster along e0, plus one vector pointing the
    # OPPOSITE way — the classic mislabel
    rows = [(i, [1.0, 0.05 * (i % 3 - 1), 0.0], 0) for i in range(20)]
    rows.append((99, [-1.0, 0.0, 0.0], 0))
    out = {r["vec_id"]: r for r in centroid_outliers(
        spark.createDataFrame(rows, ["vec_id", "embedding", "label"]),
        k=3.0,
    ).collect()}
    assert out[99]["is_outlier"] is True
    assert out[99]["cos_sim"] < 0
    assert sum(1 for r in out.values() if r["is_outlier"]) == 1


def test_conflict_pairs_finds_cross_label_duplicates(spark):
    from ffn_polars_spark.operators.similarity import conflict_pairs

    rows = [
        (1, [1.0, 0.0], "a"), (2, [1.0, 0.0], "b"),   # same vec, diff label
        (3, [0.0, 1.0], "a"), (4, [0.0, 1.0], "a"),   # same vec, SAME label
        (5, [0.6, 0.8], "c"),
    ]
    out = conflict_pairs(
        spark.createDataFrame(rows, ["vec_id", "embedding", "label"]),
        "label", threshold=0.99,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert {r["label_a"], r["label_b"]} == {"a", "b"}


def test_gram_frame_ragged_and_null_vectors(spark):
    """gram_frame must reproduce the exploded-self-join semantics on a
    ragged corpus: pair (i, j) sums over exactly the vectors long enough
    to have both components; null vectors drop."""
    from ffn_polars_spark.operators.linalg import gram_frame

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [1.0, 1.0]),          # shorter
        (3, None),                # dropped
        (4, [2.0]),               # shorter still
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    g = {(r["__i"], r["__j"]): r["__s"] for r in gram_frame(df, "embedding").collect()}
    # (0,0): 1 + 1 + 4 = 6; (0,1): 1*2 + 1*1 = 3; (2,2): 9 (only vec 1)
    assert g[(0, 0)] == 6.0
    assert g[(0, 1)] == 3.0 and g[(1, 0)] == 3.0
    assert g[(2, 2)] == 9.0
    assert g[(0, 2)] == 3.0  # only vec 1 reaches j=2
    assert len(g) == 9  # full 3x3 (missing pairs are genuinely absent rows)


def test_gram_frame_empty_input(spark):
    from ffn_polars_spark.operators.linalg import gram_frame

    df = spark.createDataFrame([], "vec_id INT, embedding ARRAY<DOUBLE>")
    assert gram_frame(df, "embedding").count() == 0


def test_embedding_remove_pc_ragged_matches_reconstruction(spark):
    """Ragged corpus: every vector's residuals must equal q − (q·v)·v
    computed against the returned PC (short vectors use the PC prefix —
    the Gram's width is the corpus MAX length, so the PC is always at
    least as long as any vector)."""
    import math

    from ffn_polars_spark.operators.linalg import (
        embedding_remove_pc,
        embedding_top_pc,
    )

    rows = [
        (1, [4.0, 0.5]), (2, [4.0, -0.5]), (3, [-4.0, 0.5]), (4, [-4.0, -0.5]),
        (9, [1.0, 0.0, 7.0]),  # longer than the other vectors
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    pc = {r["component"]: r["loading"] for r in embedding_top_pc(df).collect()}
    out = {(r["vec_id"], r["component"]): r["residual"]
           for r in embedding_remove_pc(df).collect()}
    assert len(out) == 4 * 2 + 3
    for vid, vec in rows:
        q = [math.floor(x * 1024.0 + 0.5) / 1024.0 for x in vec]
        dp = sum(qi * pc[i] for i, qi in enumerate(q))
        for i, qi in enumerate(q):
            assert abs(out[(vid, i)] - (qi - dp * pc[i])) < 1e-12


def test_embedding_covariance_ragged_counts(spark):
    """Per-pair n must equal the number of vectors long enough for BOTH
    components (the exploded-self-join contract)."""
    from ffn_polars_spark.operators.similarity import embedding_covariance
    from ffn_polars_spark.operators.dedup import release_pins

    rows = [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0]), (3, [6.0, 7.0, 8.0])]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = {(r["i"], r["j"]): r for r in embedding_covariance(df).collect()}
    release_pins()
    assert len(out) == 6  # upper triangle of 3x3
    # cov(0,0) over all 3; cov(2,2) over vecs 1 and 3 only
    import statistics
    assert abs(out[(0, 0)]["cov"] - statistics.pvariance([1.0, 4.0, 6.0])) < 1e-9
    assert abs(out[(2, 2)]["cov"] - statistics.pvariance([3.0, 8.0])) < 1e-9


def test_ann_topk_arrow_path_matches_jvm(spark):
    """The BLAS batch-scoring path must produce exactly the JVM crossJoin
    path's rows — same rounded cosines, same tie-breaks (planted exact
    duplicates force rounded ties at the boundary)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.similarity import (
        _ann_score_topk_arrow,
        ann_topk,
    )

    import numpy as np
    rng = np.random.default_rng(5)
    base = rng.standard_normal((300, 8))
    rows = [(i, base[i].tolist()) for i in range(300)]
    # planted duplicates of vector 7 -> cosine 1.0 ties, id tiebreak matters
    rows += [(1000 + j, base[7].tolist()) for j in range(5)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    qs = df.where(F.col("vec_id") < 3)

    jvm = ann_topk(df, qs, k=10, max_pairs=0)  # guard off -> JVM path
    scored = _ann_score_topk_arrow(df, qs, 10, "embedding", "vec_id", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("item_id").asc()
    )
    arrow = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 10
    )
    a = sorted(map(tuple, jvm.collect()))
    b = sorted(map(tuple, arrow.collect()))
    assert a == b


def test_cosine_pairs_arrow_path_matches_jvm(spark):
    """The chunked BLAS pair scan must reproduce the JVM join's rows
    exactly (rounded cosines, id_a < id_b ordering, threshold fence)."""
    from ffn_polars_spark.operators.similarity import (
        _cosine_pairs_arrow,
        embedding_cosine_pairs,
    )

    import numpy as np
    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 8))
    rows = [(i, base[i].tolist()) for i in range(200)]
    rows += [(500 + j, base[j].tolist()) for j in range(5)]  # exact dups
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    jvm = sorted(map(tuple, embedding_cosine_pairs(df, threshold=0.6).collect()))
    arrow = sorted(map(tuple, _cosine_pairs_arrow(df, 0.6, "embedding", "vec_id", "int").collect()))
    assert len(jvm) > 5
    assert jvm == arrow


def test_cosine_pairs_arrow_ragged_and_null_matches_jvm(spark):
    """Ragged vector widths and null ids/vectors must not crash the BLAS
    path (np.array over ragged lists is an inhomogeneous-shape error on
    numpy>=1.24) and must reproduce the JVM path's drop semantics: only
    equal-length non-null pairs score."""
    from ffn_polars_spark.operators.similarity import (
        _cosine_pairs_arrow,
        embedding_cosine_pairs,
    )

    import numpy as np

    rng = np.random.default_rng(23)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    rows += [(100 + i, rng.standard_normal(5).tolist()) for i in range(40)]
    rows += [(200, rows[3][1]), (201, rows[45][1])]  # dup in each width group
    rows += [(300, None), (None, rng.standard_normal(8).tolist())]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    jvm = sorted(map(tuple, embedding_cosine_pairs(df, threshold=0.6).collect()))
    arrow = sorted(
        map(tuple, _cosine_pairs_arrow(df, 0.6, "embedding", "vec_id", "int").collect())
    )
    assert len(jvm) >= 2  # the planted dups survive in both width groups
    assert jvm == arrow


def test_ann_topk_arrow_ragged_and_null(spark):
    """The BLAS top-k path must tolerate ragged widths and null ids: items
    whose width differs from every query produce no pairs (JVM: null cosine,
    filtered), equal-width items still rank, and null ids drop."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.similarity import _ann_score_topk_arrow

    import numpy as np

    rng = np.random.default_rng(31)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    rows += [(100 + i, rng.standard_normal(5).tolist()) for i in range(20)]
    rows += [(300, None), (None, rng.standard_normal(8).tolist())]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    qs = df.where(F.col("vec_id").isin(0, 1))  # width-8 queries

    scored = _ann_score_topk_arrow(df, qs, 5, "embedding", "vec_id", "vec_id")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("item_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    )
    got_items = {r["item_id"] for r in out}
    assert len(out) == 10  # 2 queries x k=5, from the 49 valid width-8 items
    assert all(i < 100 for i in got_items)  # no width-5, no null-id items


def test_cosine_pairs_driver_budget_gate(spark):
    """_fits_driver_corpus_budget caps the Arrow collect independently of
    max_rows: over-budget corpora fall back to the JVM join."""
    from ffn_polars_spark.operators.similarity import _fits_driver_corpus_budget

    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [2.0] * 64)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    assert _fits_driver_corpus_budget(df, "embedding", 100_000)
    assert not _fits_driver_corpus_budget(df, "embedding", 1_000_000)
    empty = df.where("vec_id > 99")
    assert not _fits_driver_corpus_budget(empty, "embedding", 10)


def test_bare_scan_row_count_footer_path(spark, tmp_path):
    """Parquet footer counting: exact on bare scans (count-preserving nodes
    only), an upper bound over Filter/Limit with allow_reducing, and None —
    falling back to the probe — for anything that can grow rows or for
    non-parquet sources."""
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators._scanmeta import bare_scan_row_count

    d = str(tmp_path / "t.parquet")
    spark.range(137).selectExpr("id AS vec_id").write.parquet(d)
    df = spark.read.parquet(d)

    assert bare_scan_row_count(df) == 137
    assert bare_scan_row_count(df.select(F.col("vec_id").alias("x"))) == 137
    # filter/limit: None without allow_reducing, footer UPPER bound with it
    filt = df.where("vec_id < 5")
    assert bare_scan_row_count(filt) is None
    assert bare_scan_row_count(filt, allow_reducing=True) == 137
    assert bare_scan_row_count(df.limit(3), allow_reducing=True) == 137
    # row-increasing / non-file shapes: never answered from footers
    assert bare_scan_row_count(df.join(filt, "vec_id"), allow_reducing=True) is None
    assert bare_scan_row_count(df.groupBy().count(), allow_reducing=True) is None
    assert bare_scan_row_count(spark.range(10), allow_reducing=True) is None


def test_guard_pair_budget_zero_jobs_on_parquet_scans(spark, tmp_path, monkeypatch):
    """When both sides are (filtered) parquet scans whose footer-bound
    product fits the budget, the guard must pass WITHOUT running a count
    job; tripping the budget must still use real probes (an upper bound
    can prove a pass, never a failure)."""
    import pyspark.sql.classic.dataframe as dfmod

    from ffn_polars_spark.operators.similarity import _guard_pair_budget

    d = str(tmp_path / "emb.parquet")
    spark.range(100).selectExpr(
        "id AS vec_id", "array(cast(id AS float), 1.0f) AS embedding"
    ).write.parquet(d)
    df = spark.read.parquet(d)
    q = df.where("vec_id < 5")

    counts = []
    orig = dfmod.DataFrame.count
    monkeypatch.setattr(
        dfmod.DataFrame, "count", lambda self: (counts.append(1), orig(self))[1]
    )
    n_i, n_q = _guard_pair_budget(df, "vec_id", q, "vec_id", 100 * 100)
    assert not counts, "footer-bounded guard must not run count jobs"
    assert n_i == 100 and n_q == 100  # upper bound for the filtered side

    # bare-scan sides over budget: footers give EXACT counts, so the guard
    # still raises with zero jobs
    with pytest.raises(ValueError):
        _guard_pair_budget(df, "vec_id", df, "vec_id", 10)
    assert not counts
    # a FILTERED side over budget cannot be failed on an upper bound:
    # the guard must fall back to a real probe before deciding
    n_i, n_q = _guard_pair_budget(df, "vec_id", q, "vec_id", 600)
    assert counts, "over-bound filtered side must re-probe with real counts"
    assert n_q == 5, "probe must observe the true filtered count"


def test_dedup_embedding_lsh_recall_auto_planes(spark, embdf):
    """The LSH pair generator must find every exact pair (recall 1.0 vs the
    guarded brute-force generator) with ZERO false extras — exact cosine
    verification filters every candidate, so any extra is a bug, and a miss
    means the banding lost a true near-duplicate."""
    from ffn_polars_spark.operators.similarity import dedup_embedding_lsh

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(embdf, threshold=0.95).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup_embedding_lsh(embdf, threshold=0.95).collect()
    }
    assert set(got) == set(exact)          # recall 1.0, zero extras
    for k in exact:
        assert got[k] == pytest.approx(exact[k], abs=1e-6)


def test_dedup_embedding_lsh_explicit_planes(spark, embdf):
    """Pinning planes (the pre-auto-scaling behavior) keeps parity with the
    exact generator on the planted corpus, across both a coarse and a fine
    banding."""
    from ffn_polars_spark.operators.similarity import dedup_embedding_lsh

    exact = {
        (r["id_a"], r["id_b"]) for r in embedding_cosine_pairs(embdf, threshold=0.95).collect()
    }
    for planes, tables in ((8, 4), (12, 4)):
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup_embedding_lsh(
                embdf, threshold=0.95, planes=planes, tables=tables
            ).collect()
        }
        assert got == exact, f"planes={planes} tables={tables}"


def test_dedup_embedding_lsh_scaled_copy_always_collides(spark, embdf):
    """A vector and its positively-scaled copy have identical hyperplane
    signs in EVERY table, so LSH recall on such pairs is structurally 1.0
    regardless of seed or plane count — the invariant the catalog's
    semantic_dedup_lsh entry relies on for its exact-SQL oracle."""
    from ffn_polars_spark.operators.similarity import dedup_embedding_lsh

    copies = embdf.select(
        (F.col("vec_id") + F.lit(1000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    both = embdf.unionByName(copies)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_embedding_lsh(both, threshold=0.999, planes=17, tables=1, seed=7).collect()
    }
    for r in embdf.select("vec_id").collect():
        assert (r["vec_id"], r["vec_id"] + 1000) in got


def test_semantic_dedup_lsh_matches_bruteforce(spark, embdf):
    """semantic_dedup's default method='lsh' end-to-end output (pairs ->
    components -> canonical) must equal the method='bruteforce' output on
    the planted corpus."""
    from ffn_polars_spark.operators.similarity import semantic_dedup

    bf = sorted(
        semantic_dedup(embdf, threshold=0.95, method="bruteforce").collect()
    )
    lsh = sorted(semantic_dedup(embdf, threshold=0.95, method="lsh").collect())
    assert lsh == bf
    assert any(r["is_duplicate"] for r in lsh)  # non-vacuous


def test_lsh_tables_for_recall_math():
    """SRP math: T = ceil(ln(1-target)/ln(1-p)), p = (1-acos(c)/pi)^planes,
    clamped to [4, 16]; monotone non-decreasing in planes."""
    import math

    from ffn_polars_spark.operators.similarity import lsh_tables_for_recall

    p12 = (1 - math.acos(0.95) / math.pi) ** 12
    want = math.ceil(math.log(0.05) / math.log(1 - p12))
    assert lsh_tables_for_recall(12, 0.95) == max(4, min(16, want))
    ts = [lsh_tables_for_recall(pl, 0.95) for pl in range(12, 20)]
    assert ts == sorted(ts)                # more planes never fewer tables
    assert all(4 <= t <= 16 for t in ts)   # clamped
    assert lsh_tables_for_recall(64, 0.999999) == 4   # p ~ 1 -> floor
    assert lsh_tables_for_recall(4096, 0.5) == 16     # p ~ 0 -> cap


@pytest.mark.parametrize("n,planes", [(1000, 12), (1000, 13), (1000, 14)])
def test_dedup_embedding_lsh_boundary_recall_curve(spark, n, planes):
    """The auto-`tables` contract: pairs at cos just above the threshold
    (the borderline zone auto-planes endangers) keep recall >= 0.95 when
    tables is left to auto mode, across the plane counts auto-scaling
    picks at 65k/130k/260k-vector corpora. Planted construction: for unit
    u and unit w orthogonal to u, v = c*u + sqrt(1-c^2)*w has cosine(u,v)
    exactly c (here c = 0.97 against threshold 0.95)."""
    from ffn_polars_spark.operators.similarity import dedup_embedding_lsh

    rng = np.random.default_rng(planes)  # distinct corpus per plane count
    dim, c = 64, 0.97
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    n_pairs = 100
    rows = [(i, base[i].tolist()) for i in range(n)]
    for j in range(n_pairs):
        u = base[j]
        w = rng.standard_normal(dim)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        v = c * u + np.sqrt(1 - c * c) * w
        rows.append((10_000 + j, v.tolist()))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_embedding_lsh(
            df, threshold=0.95, planes=planes, tables=None
        ).collect()
    }
    found = sum((j, 10_000 + j) in got for j in range(n_pairs))
    assert found / n_pairs >= 0.95, f"planes={planes}: recall {found/n_pairs}"


def test_lsh_tables_for_recall_monotone_in_threshold():
    """Lower thresholds mean lower per-table collision probability at the
    boundary, so the sufficient table count never DECREASES as the
    threshold drops (within the clamp)."""
    from ffn_polars_spark.operators.similarity import lsh_tables_for_recall

    for planes in (12, 14, 16):
        ts = [lsh_tables_for_recall(planes, th) for th in (0.99, 0.95, 0.9, 0.85)]
        assert ts == sorted(ts), (planes, ts)


def test_dedup_embedding_lsh_registry_binding():
    """The public registry alias must resolve to dedup_embedding_lsh itself,
    not a scalar helper (regression: in r10 the @register decorator was
    accidentally left on lsh_tables_for_recall when it was inserted above
    the operator, rebinding the namespace-dispatch name to a function that
    cannot accept a DataFrame — same defect class as the kmv_distinct
    binding pinned in tests/test_sketch.py)."""
    from ffn_polars_spark.operators import similarity
    from ffn_polars_spark.registry import FFN_DF_REGISTRY, FFN_REGISTRY

    assert FFN_DF_REGISTRY["dedup_embedding_lsh"] is similarity.dedup_embedding_lsh
    for reg in (FFN_DF_REGISTRY, FFN_REGISTRY):
        assert "lsh_tables_for_recall" not in reg


def test_semantic_count_cache_and_tiny_spread_skip(spark, monkeypatch):
    """r13 guard-cost trim: (1) an identical logical plan rebuilt from
    FRESH objects hits the semantic count cache — no second probe job;
    (2) a provably-tiny pair job (<= 25k) skips the spread_scan
    repartition; a large one still spreads."""
    import pyspark.sql.classic.dataframe as dfmod

    from ffn_polars_spark.operators import similarity as S

    S._SEM_COUNT_CACHE.clear()

    counts = []
    orig = dfmod.DataFrame.count

    def counting(self):
        counts.append(1)
        return orig(self)

    monkeypatch.setattr(dfmod.DataFrame, "count", counting)

    def build():
        df = spark.range(400).selectExpr(
            "id AS vec_id", "array(cast(id AS float), 1.0f) AS embedding"
        )
        return df, df.where("vec_id < 3")

    items, q = build()
    got1 = S.ann_topk(items, q, k=2)
    n_probe_first = len(counts)
    assert n_probe_first >= 1  # the refine probe ran once

    items2, q2 = build()  # fresh objects, same plan semantics
    got2 = S.ann_topk(items2, q2, k=2)
    assert len(counts) == n_probe_first, "semantic cache missed: re-probed"

    # tiny job (400 x 3 = 1200 pairs): no round-robin repartition in the plan
    assert not repartitions(got2)
    monkeypatch.undo()
    rows = {r["query_id"] for r in got2.collect()}
    assert rows == {0, 1, 2}

    # a single-partition parallelize source with an over-threshold pair
    # count must still spread (single-row-group-style input)
    big_items = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(300)], ["vec_id", "embedding"]
    ).coalesce(1)
    big_q = spark.createDataFrame(
        [(1000 + i, [1.0, float(i)]) for i in range(100)], ["vec_id", "embedding"]
    )
    got3 = S.ann_topk(big_items, big_q, k=2)  # 300*100 = 30k > 25k
    assert repartitions(got3)

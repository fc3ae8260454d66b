"""Adversarial-skew decade for the banded LSH joins (r12 verdict ask #4).

Worst-case corpus: ``boilerplate_frac`` of all documents share ONE
identical text — one minhash signature, so every one of the 16 band
buckets holds that entire group and an uncapped self-join would emit
C(k,2) pairs per band from a single join key (k=2M at the 5M-doc scale:
2x10^12 candidates — the 100 TB degenerate-bucket cliff). The remaining
docs follow gen_corpus_scale's phrase-pool scheme with planted near-dup
variants, and the (src, variant) ground-truth pairs are written alongside
so recall is measurable, not estimated.

Subcommands:
    gen OUTDIR N_DOCS [boiler_frac] [seed]   — write documents.parquet +
                                               truth_pairs.parquet
    run DIR [max_bucket|off] [timeout_s]     — measure dedup_minhash_lsh
        (verify="none"): wall clock, candidate count, recall of planted
        pairs, and the dedup_exact collapse of the boilerplate group.

The expected results (docs/scaling.md round-13): valve OFF at 50k docs
already shows the quadratic bucket (2x10^8 candidates from 20k boiler
docs); valve ON (max_bucket=1000) is bounded at any scale with ~0 recall
cost on true near-dups (they collide in their other bands), and the
boilerplate group belongs to dedup_exact anyway (the documented pipeline
order).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHUNK = 100_000
ROW_GROUP = 65_536
BOILER = (
    "this content is provided as is without warranty of any kind either "
    "express or implied including but not limited to the implied warranties "
    "of merchantability and fitness for a particular purpose all rights "
    "reserved copyright notice terms of service privacy policy contact us"
)


def _phrase_pool(rng: np.random.Generator, n_phrases: int = 100_000):
    vocab = np.array([f"word{i:04d}" for i in range(5000)])
    lens = rng.integers(7, 12, n_phrases)
    return [" ".join(vocab[rng.integers(0, len(vocab), ln)]) for ln in lens]


def gen(outdir: str, n_doc: int, boiler_frac: float = 0.4, seed: int = 7) -> None:
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pool = _phrase_pool(rng)
    n_normal = int(n_doc * (1.0 - boiler_frac))
    n_base = max(1, n_normal * 2 // 3)
    BASE_KEEP = min(n_base, 500_000)
    kept: list = []
    truth: list = []
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    writer = pq.ParquetWriter(os.path.join(outdir, "documents.parquet"), schema)
    for start in range(0, n_doc, CHUNK):
        end = min(start + CHUNK, n_doc)
        texts = []
        for i in range(start, end):
            if i >= n_normal:
                t = BOILER  # the degenerate single-signature group
            elif i < n_base:
                idx = rng.integers(0, len(pool), 6)
                t = " ".join(pool[j] for j in idx)
                if i < BASE_KEEP:
                    kept.append(t)
            else:
                src_i = int(rng.integers(0, len(kept)))
                src = kept[src_i]
                mode = i % 3
                t = (
                    src.upper()
                    if mode == 0
                    else (f"  {src} " if mode == 1 else src + f" tail{i}")
                )
                truth.append((src_i, i))
            texts.append(t)
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(start, end), pa.int64()),
                    "text": texts,
                },
                schema=schema,
            ),
            row_group_size=ROW_GROUP,
        )
    writer.close()
    pq.write_table(
        pa.table(
            {
                "id_a": pa.array([a for a, _ in truth], pa.int64()),
                "id_b": pa.array([b for _, b in truth], pa.int64()),
            }
        ),
        os.path.join(outdir, "truth_pairs.parquet"),
    )
    print(
        f"wrote {n_doc} docs ({n_doc - n_normal} boilerplate, "
        f"{len(truth)} planted pairs) to {outdir}"
    )


def run(d: str, max_bucket, timeout_s: int = 900) -> None:
    from pyspark.sql import functions as F

    from ffn_polars_spark.operators.dedup import dedup_exact, dedup_minhash_lsh
    from ffn_polars_spark.pins import release_pins
    from ffn_polars_spark.sources import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    truth = spark.read.parquet(os.path.join(d, "truth_pairs.parquet"))
    n_truth = truth.count()

    mb = None if max_bucket in (None, "off") else int(max_bucket)
    t0 = time.time()
    pairs = dedup_minhash_lsh(docs, threshold=0.8, verify="none", max_bucket=mb)
    # canonical (lo, hi) ordering for the recall join
    canon = pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    n_cand = canon.count()
    wall = time.time() - t0
    hit = truth.join(canon, ["id_a", "id_b"]).count()
    release_pins()

    # the documented pipeline order: the boilerplate group is an EXACT
    # duplicate group — dedup_exact collapses it in one hash shuffle
    t1 = time.time()
    n_exact_dups = dedup_exact(docs).where("is_duplicate").count()
    wall_exact = time.time() - t1
    release_pins()

    print(
        json.dumps(
            {
                "dir": d,
                "max_bucket": mb,
                "wall_s": round(wall, 1),
                "candidates": n_cand,
                "planted_pairs": n_truth,
                "planted_recalled": hit,
                "recall": round(hit / n_truth, 4) if n_truth else None,
                "dedup_exact_dups": n_exact_dups,
                "dedup_exact_wall_s": round(wall_exact, 1),
            }
        )
    )


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        gen(
            sys.argv[2],
            int(sys.argv[3]),
            float(sys.argv[4]) if len(sys.argv) > 4 else 0.4,
            int(sys.argv[5]) if len(sys.argv) > 5 else 7,
        )
    elif cmd == "run":
        run(
            sys.argv[2],
            sys.argv[3] if len(sys.argv) > 3 else "off",
            int(sys.argv[4]) if len(sys.argv) > 4 else 900,
        )
    else:
        raise SystemExit(f"unknown command {cmd!r}")

"""Seeded inputs and their oracle digests, cached under the work directory.

Tables come from ``tools/gen_testdata.generate(outdir, sf, seed)``; a cache
entry is keyed by seed, scale and a hash of the generator source, so an A/B
pair of checkouts with the same generator reads byte-identical files (their
digests print with every run). Oracle digests are keyed by the hash of the
query's SQL text and the input digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# input sets kept in the cache; older ones are evicted
KEEP_INPUTS = 8


def ensure_inputs(root: str, work: str, sf: float, seed: int) -> Dict:
    """Generate (or reuse) the tables for ``(sf, seed)``; return
    ``{"dir", "digest", "files"}`` with per-file sha256 digests."""
    import gen_testdata

    gen_hash = _sha256_file(os.path.join(root, "tools", "gen_testdata.py"))[:12]
    cache = os.path.join(work, "inputs")
    out = os.path.join(cache, f"sf{sf:g}-seed{seed}-{gen_hash}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        os.utime(out)
        with open(manifest) as f:
            return json.load(f)
    _evict(cache, KEEP_INPUTS - 1)
    staging = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    gen_testdata.generate(staging, sf, seed)
    files = {
        t: _sha256_file(os.path.join(staging, f"{t}.parquet")) for t in TABLES
    }
    digest = hashlib.sha256(
        "".join(f"{t}:{files[t]}\n" for t in TABLES).encode()
    ).hexdigest()
    info = {"dir": out, "digest": digest, "files": files}
    with open(os.path.join(staging, "manifest.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return info


def _evict(cache: str, keep: int) -> None:
    if not os.path.isdir(cache):
        return
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[keep:]:
        shutil.rmtree(path, ignore_errors=True)


def result_digest(pdf) -> Dict:
    """Order-insensitive digest of a pandas result, in the correctness
    gate's comparison shape (sorted column names, sorted value lines)."""
    from check_correctness import rows_from_pandas, table_sig

    cols, rows = rows_from_pandas(pdf)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for line in table_sig(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def oracle_digests(work: str, inputs: Dict, queries) -> Dict[str, Dict]:
    """DuckDB digest of ``ORACLE_SQL[q]`` over the input tables, per query."""
    from ffn_polars_spark.queries import ORACLE_SQL

    cache_dir = os.path.join(work, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for q in queries:
        sql = ORACLE_SQL[q]
        key = hashlib.sha256((sql + "\0" + inputs["digest"]).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key[:32]}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[q] = json.load(f)
            continue
        if con is None:
            import duckdb

            # one thread: this runs beside the cold Spark pass
            con = duckdb.connect(config={"threads": 1})
            for t in TABLES:
                p = os.path.join(inputs["dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out[q] = result_digest(con.execute(sql).fetch_df())
        with open(path, "w") as f:
            json.dump(out[q], f)
    if con is not None:
        con.close()
    return out

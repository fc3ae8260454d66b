"""Full-surface degenerate-input sweep: run EVERY catalog query against a
corpus built to hit the shapes that break naive plans — constant prices,
zero volumes/values, duplicate timestamps, single-row keys, single-token
and empty documents, zero and duplicate embeddings — and report anything
that RAISES.

This is the whole-engine version of the r13 ANSI zero-division audit:
under Spark 4's default ANSI mode any division by an exactly-0.0
data-derived denominator throws instead of yielding NULL, so "works on
realistic data" says nothing about the sparse/degenerate keys a 100 TB
corpus is full of. Wrong VALUES are out of scope here (the DuckDB oracle
gate owns that on canonical data); this sweep only asserts the engine
DEGRADES (NULLs, empty frames) instead of crashing.

The tables keep the canonical sf0.001 schemas (derived from the real
files) with degenerate contents. Scale guards that raise BY CONTRACT
(documented ValueError budgets) are counted as pass.

Two corpus variants, each a full catalog pass:

- ``zeros`` (default): constant prices, zero volumes/values, duplicate
  timestamps, single-row keys, empty/single-token documents, zero and
  duplicate embeddings — the ANSI zero-denominator shapes.
- ``nulls``: NULL measure columns (value, text, embedding, prices),
  NULL array *elements*, and negative prices/values — the
  NULL-propagation and sign shapes. Key/timestamp columns stay
  non-null (a NULL join/order key is malformed input, not a
  degenerate-but-valid corpus).

Usage: python tools/degenerate_sweep.py [outdir] [zeros|nulls|all]
— writes the corpus, runs all queries, prints per-query FAILs and one
summary line per variant.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# schemas come from the sf0.001 tables (tools/gen_testdata.py output works)
CANON = os.path.join(os.environ.get("FFN_TESTDATA_DIR", "/root/testdata"), "sf0.001")


def build(outdir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)

    def like(name: str, rows: dict, n: int) -> None:
        src = pq.ParquetFile(os.path.join(CANON, f"{name}.parquet"))
        schema = pa.schema(
            [f.remove_metadata() for f in src.schema_arrow]
        ).remove_metadata()
        arrays = [pa.array(rows[f.name], type=f.type) for f in schema]
        pq.write_table(pa.table(arrays, schema=schema), os.path.join(outdir, f"{name}.parquet"))

    import datetime as dt

    ts0 = dt.datetime(2023, 1, 2, 10, 0, 0)
    d0 = dt.datetime(1995, 6, 1)

    # events: per event_type — one single-row key, one all-duplicate-ts
    # constant-price zero-value key, one two-row key with equal values
    ev = []
    types = ["view", "click", "purchase", "signup", "error"]
    eid = 0
    for et in types:
        ev.append((eid, ts0, 1, et, 0.0, "{}")); eid += 1          # single row, zero value
        for _ in range(3):                                          # dup-ts constant block
            ev.append((eid, ts0, 2, et, 100.0, "{}")); eid += 1
        ev.append((eid, ts0 + dt.timedelta(seconds=1), 3, et, 100.0, "{}")); eid += 1
    like("events", {
        "event_id": [r[0] for r in ev], "ts": [r[1] for r in ev],
        "user_id": [r[2] for r in ev], "event_type": [r[3] for r in ev],
        "value": [r[4] for r in ev], "props": [r[5] for r in ev],
    }, len(ev))

    # documents: empty text, single token, identical duplicates, whitespace
    texts = ["", "x", "hello", "hello", "   ", "a b", "a b"]
    nd = len(texts)
    like("documents", {
        "doc_id": list(range(nd)), "text": texts,
        "lang": ["en"] * nd, "source": ["web"] * nd,
        "n_chars": [len(t) for t in texts],
    }, nd)

    # embeddings: zero vector, duplicate vectors, one normal
    dim = 64
    vecs = [[0.0] * dim, [1.0] + [0.0] * (dim - 1), [1.0] + [0.0] * (dim - 1),
            [0.5] * dim]
    like("embeddings", {
        "vec_id": list(range(len(vecs))), "embedding": vecs,
        "label": [0, 0, 1, 1],
    }, len(vecs))

    # relational: single-row / constant tables that still satisfy FKs
    like("region", {"r_regionkey": [0], "r_name": ["AMERICA"]}, 1)
    like("nation", {"n_nationkey": [0], "n_name": ["BRAZIL"], "n_regionkey": [0]}, 1)
    like("customer", {
        "c_custkey": [1], "c_name": ["c1"], "c_nationkey": [0],
        "c_acctbal": [0.0], "c_mktsegment": ["BUILDING"],
    }, 1)
    like("supplier", {
        "s_suppkey": [1], "s_name": ["s1"], "s_nationkey": [0],
        "s_acctbal": [0.0],
    }, 1)
    like("part", {
        "p_partkey": [1], "p_name": ["p1"], "p_brand": ["Brand#1"],
        "p_type": ["t"], "p_size": [1], "p_retailprice": [0.0],
    }, 1)
    like("orders", {
        "o_orderkey": [1, 2], "o_custkey": [1, 1],
        "o_orderstatus": ["F", "F"], "o_totalprice": [0.0, 0.0],
        "o_orderdate": [d0, d0], "o_orderpriority": ["1-URGENT", "1-URGENT"],
    }, 2)
    like("lineitem", {
        "l_orderkey": [1, 2], "l_partkey": [1, 1], "l_suppkey": [1, 1],
        "l_linenumber": [1, 1], "l_quantity": [0.0, 0.0],
        "l_extendedprice": [0.0, 0.0], "l_discount": [0.0, 0.0],
        "l_tax": [0.0, 0.0], "l_returnflag": ["N", "N"],
        "l_linestatus": ["O", "O"], "l_shipdate": [d0, d0],
    }, 2)


def build_nulls(outdir: str) -> None:
    """NULL-measure / negative-value variant: every non-key measure column
    carries NULLs (including NULL array elements in embeddings), prices
    and values go negative, documents mix NULL and real text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)

    def like(name: str, rows: dict, n: int) -> None:
        src = pq.ParquetFile(os.path.join(CANON, f"{name}.parquet"))
        # force-nullable (incl. list elements): the whole point of this
        # variant is NULLs in measure columns regardless of the canonical
        # writer's flags
        def nullable_type(t):
            if pa.types.is_list(t):
                return pa.list_(pa.field("element", nullable_type(t.value_type), nullable=True))
            if pa.types.is_large_list(t):
                return pa.large_list(pa.field("element", nullable_type(t.value_type), nullable=True))
            return t

        schema = pa.schema(
            [
                pa.field(f.name, nullable_type(f.type), nullable=True)
                for f in src.schema_arrow
            ]
        ).remove_metadata()
        arrays = [pa.array(rows[f.name], type=f.type) for f in schema]
        pq.write_table(pa.table(arrays, schema=schema), os.path.join(outdir, f"{name}.parquet"))

    import datetime as dt

    ts0 = dt.datetime(2023, 1, 2, 10, 0, 0)
    d0 = dt.datetime(1995, 6, 1)

    # events: per type — NULL-value rows interleaved with negative and
    # positive values; one key whose values are ALL NULL
    ev = []
    types = ["view", "click", "purchase", "signup", "error"]
    eid = 0
    for et in types:
        # props: malformed JSON and non-numeric field values — ANSI
        # try_cast territory (a bare cast throws CAST_INVALID_INPUT)
        props = ["{}", "not json", '{"a": "x"}', '{"a": 1}', None, '{"a": null}']
        vals = [None, -5.0, 10.0, None, -0.5, 2.5]
        for i, (v, pr) in enumerate(zip(vals, props)):
            ev.append((eid, ts0 + dt.timedelta(seconds=i), 2, et, v, pr)); eid += 1
        for i in range(3):                                      # all-NULL key
            ev.append((eid, ts0 + dt.timedelta(seconds=i), 9, et, None, None)); eid += 1
    like("events", {
        "event_id": [r[0] for r in ev], "ts": [r[1] for r in ev],
        "user_id": [r[2] for r in ev], "event_type": [r[3] for r in ev],
        "value": [r[4] for r in ev], "props": [r[5] for r in ev],
    }, len(ev))

    # documents: NULL text mixed with real text
    texts = [None, "hello world", None, "the quick brown fox", "hello world"]
    nd = len(texts)
    like("documents", {
        "doc_id": list(range(nd)), "text": texts,
        "lang": ["en", None, "en", "en", None],
        "source": ["web"] * nd,
        "n_chars": [len(t) if t else None for t in texts],
    }, nd)

    # embeddings: NULL vector, vector with NULL elements, negative values
    dim = 64
    vecs = [None, [None] * dim, [-1.0] + [0.5] * (dim - 1),
            [0.25, None] + [0.5] * (dim - 2), [0.5] * dim]
    like("embeddings", {
        "vec_id": list(range(len(vecs))), "embedding": vecs,
        "label": [0, 0, 1, 1, None],
    }, len(vecs))

    like("region", {"r_regionkey": [0], "r_name": ["AMERICA"]}, 1)
    like("nation", {"n_nationkey": [0], "n_name": ["BRAZIL"], "n_regionkey": [0]}, 1)
    like("customer", {
        "c_custkey": [1], "c_name": ["c1"], "c_nationkey": [0],
        "c_acctbal": [None], "c_mktsegment": ["BUILDING"],
    }, 1)
    like("supplier", {
        "s_suppkey": [1], "s_name": ["s1"], "s_nationkey": [0],
        "s_acctbal": [-10.0],
    }, 1)
    like("part", {
        "p_partkey": [1], "p_name": ["p1"], "p_brand": ["Brand#1"],
        "p_type": ["t"], "p_size": [1], "p_retailprice": [None],
    }, 1)
    like("orders", {
        "o_orderkey": [1, 2, 3], "o_custkey": [1, 1, 1],
        "o_orderstatus": ["F", "F", "O"], "o_totalprice": [None, -1.0, 5.0],
        "o_orderdate": [d0, d0, d0], "o_orderpriority": ["1-URGENT"] * 3,
    }, 3)
    like("lineitem", {
        "l_orderkey": [1, 2, 3], "l_partkey": [1, 1, 1], "l_suppkey": [1, 1, 1],
        "l_linenumber": [1, 1, 1], "l_quantity": [None, -2.0, 3.0],
        "l_extendedprice": [None, -4.0, 6.0], "l_discount": [None, 0.1, 0.05],
        "l_tax": [None, 0.02, 0.04], "l_returnflag": ["N", "N", "R"],
        "l_linestatus": ["O", "O", "F"], "l_shipdate": [d0, d0, d0],
    }, 3)


def run_sweep(spark, outdir: str, tag: str) -> list:
    import __spark_entry__ as entry

    qs = entry.queries()
    n_pass = 0
    fails = []
    for name, fn in qs.items():
        try:
            fn(spark, outdir).limit(1000).collect()
            n_pass += 1
            print(f"PASS {name}", flush=True)
        except ValueError as e:
            # documented scale-guard / contract errors are a pass
            n_pass += 1
            print(f"PASS {name} (contract ValueError: {str(e)[:60]})", flush=True)
        except Exception as e:
            fails.append(name)
            msg = str(e).splitlines()[0][:160] if str(e) else type(e).__name__
            print(f"FAIL {name}: {msg}", flush=True)
    print(f"\n== degenerate sweep [{tag}]: {n_pass} pass, {len(fails)} FAIL")
    if fails:
        print("failed:", ", ".join(fails))
    return fails


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ffn_degenerate"
    variant = sys.argv[2] if len(sys.argv) > 2 else "zeros"

    from ffn_polars_spark.sources import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    all_fails = []
    if variant in ("zeros", "all"):
        build(outdir)
        all_fails += run_sweep(spark, outdir, "zeros")
    if variant in ("nulls", "all"):
        nd = outdir.rstrip("/") + "_nulls"
        build_nulls(nd)
        all_fails += run_sweep(spark, nd, "nulls")
    if all_fails:
        sys.exit(1)


if __name__ == "__main__":
    main()

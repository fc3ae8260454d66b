"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 on local Spark, runs the matching
``oracle_sql()`` in DuckDB over the same parquet files, and compares
row-count + sorted-column schema + an order-insensitive value hash.

Fetch path deliberately mirrors the driver's pandas/arrow-style fetch:

- Spark results go through ``toPandas()`` (Arrow) — so a nullable LongType
  column degrades to float64 exactly as it does driver-side.
- Oracle results go through DuckDB ``fetch_df()`` — so HUGEINT (the type of
  an uncast integer ``sum()``) degrades to float64, which is the dtype-drift
  bug class that cost rounds 1-2 (``7.0`` vs ``7``). ``fetchall()`` hid it
  by converting HUGEINT to Python int.
- Values are normalized at FULL precision (``repr``), keeping the int-vs-
  float distinction, instead of the old ``%.9g`` which erased it.

Rows are extracted per-column (``iloc[:, i].tolist()``) so a mixed
int64/float64 frame never upcasts its int columns the way ``.values`` would.

Every entry runs in two shapes, each printing its own summary line: the
default one, where ``read_table`` returns tables of at most
``sources.SINGLE_PARTITION_MAX_ROWS`` rows as one partition (every table
of an sf0.01 snapshot), and the distributed one, with that threshold at 0.
Each oracle runs once: its columns and row signature are kept and both
shapes compare against them. The exit status is 1 when any entry fails in
either shape.

Usage: python tools/check_correctness.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    # DECIMAL: DuckDB fetch_df gives float64, Spark collect gives Decimal —
    # normalize both to float so the comparison is about values, not the
    # decimal/float packaging (the driver's fetch does the same flattening).
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0.0"  # fold -0.0 into 0.0 on both sides
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    return str(v)


def rows_from_pandas(pdf):
    """Per-column extraction preserving each column's dtype."""
    cols = list(pdf.columns)
    if not cols:
        return cols, []
    series = [pdf.iloc[:, i].tolist() for i in range(len(cols))]
    return cols, list(zip(*series))


def table_sig(cols, rows):
    """Order-insensitive value lines: columns sorted by name, rows sorted
    lexicographically — exactly the driver's comparison shape."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(r[i]) for i in order) for r in rows)


def sig12(line: str) -> str:
    """~12-sig-fig rendering of a value line, used only in FAIL diagnostics:
    if two lines differ at full precision but agree here, the divergence is
    a 1-ulp accumulation-order artifact, not a real value bug."""
    out = []
    for tok in line.split("|"):
        try:
            out.append(f"{float(tok):.12g}")
        except ValueError:
            out.append(tok)
    return "|".join(out)


def main():
    argv = list(sys.argv[1:])
    first_n = None
    if "--first" in argv:
        i = argv.index("--first")
        first_n = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    name_filter = argv[1:]

    from ffn_polars_spark import sources

    spark = sources.get_spark("check", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed session warmup (same as bench.py): JVM codegen + the Python
    # worker spawn + pandas import otherwise land in the FIRST entry's
    # wall-clock (~7 s attributed to whatever the rotation put first).
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(1000, numPartitions=8).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    # ... and the structured-streaming machinery (streaming planner, state
    # store provider, memory sink): the first streaming entry otherwise
    # pays ~2 s of one-time spin-up.
    try:
        import tempfile
        import uuid as _uuid

        _wdir = tempfile.mkdtemp(prefix="ffn_warm_stream_")
        spark.range(10).withColumn("k", col("id") % 2).write.mode(
            "overwrite"
        ).parquet(_wdir + "/in")
        _wq = (
            spark.readStream.schema("id long, k long")
            .parquet(_wdir + "/in")
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("w" + _uuid.uuid4().hex[:8])
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _wq.awaitTermination()
    except Exception:
        pass

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import __spark_entry__ as se

    qs, oracles = se.queries(), se.oracle_sql()
    shapes = (
        ("default", sources.SINGLE_PARTITION_MAX_ROWS),
        ("distributed", 0),
    )
    expected = {}  # entry name -> its oracle's (columns, row signature) or error
    totals = []
    for shape, max_rows in shapes:
        sources.SINGLE_PARTITION_MAX_ROWS = max_rows
        print(f"\n== shape {shape}: SINGLE_PARTITION_MAX_ROWS={max_rows}")
        t0 = time.time()
        counts = check_entries(
            spark, con, qs, oracles, expected, sf_dir, name_filter, first_n
        )
        totals.append((shape, counts, time.time() - t0))
    print()
    for shape, (n_pass, n_rowsonly, n_fail, fails, oracle_s), secs in totals:
        print(
            f"== {shape}: {n_pass} exact-pass, {n_rowsonly} rows-only, "
            f"{n_fail} FAIL ({secs:.0f}s, {oracle_s:.0f}s of it in oracles)"
            + (f": {fails}" if fails else "")
        )
    spark.stop()
    sys.exit(1 if any(counts[2] for _, counts, _ in totals) else 0)


def check_entries(spark, con, qs, oracles, expected, sf_dir, name_filter, first_n):
    """Run the selected entries against their oracles; return
    ``(n_pass, n_rowsonly, n_fail, failed names, seconds spent in oracles)``.
    An oracle runs only when ``expected`` has no result for its entry yet."""
    n_pass = n_fail = n_rowsonly = 0
    oracle_s = 0.0
    fails = []
    for pos, (name, fn) in enumerate(qs.items()):
        if first_n is not None and pos >= first_n:
            break
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols, srows = rows_from_pandas(spdf)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            fails.append(name)
            continue
        if name not in oracles:
            n_rowsonly += 1
            print(f"rows-only {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        if name not in expected:
            t1 = time.time()
            try:
                ocols, orows = rows_from_pandas(con.execute(oracles[name]).fetch_df())
                expected[name] = (ocols, table_sig(ocols, orows))
            except Exception as e:
                expected[name] = e
            oracle_s += time.time() - t1
        if isinstance(expected[name], Exception):
            print(f"FAIL {name}: oracle error: {expected[name]}")
            n_fail += 1
            fails.append(name)
            continue
        ocols, l2 = expected[name]
        ok = True
        msgs = []
        if sorted(scols) != sorted(ocols):
            ok = False
            msgs.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(l2):
            ok = False
            msgs.append(f"rows {len(srows)} vs {len(l2)}")
        if ok:
            l1 = table_sig(scols, srows)
            if l1 != l2:
                ok = False
                diff = next(
                    (i for i, (a, b) in enumerate(zip(l1, l2)) if a != b), -1
                )
                a = l1[diff][:200] if 0 <= diff < len(l1) else "?"
                b = l2[diff][:200] if 0 <= diff < len(l2) else "?"
                ulp_note = (
                    "  [12-sig-fig EQUAL -> likely ulp-only accumulation drift]"
                    if sig12(a) == sig12(b) and a != "?"
                    else ""
                )
                msgs.append(
                    f"hash mismatch (first diff line {diff}):{ulp_note}\n"
                    f"    spark:  {a}\n"
                    f"    oracle: {b}"
                )
        if ok:
            n_pass += 1
            print(f"PASS {name}  ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            fails.append(name)
            print(f"FAIL {name}: " + "; ".join(msgs))
    return n_pass, n_rowsonly, n_fail, fails, oracle_s


if __name__ == "__main__":
    main()

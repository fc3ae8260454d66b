"""The Python worker daemon keeps zip directories across tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython 3.10-3.12 each ``zipimporter`` then re-reads its
archive's directory. ``ffn_polars_spark._pydaemon`` swaps in a reset that
re-reads an archive only when its stat changed. Both checks run in
subprocesses: the swap patches ``zipimport`` process-wide, and the daemon
module is a static conf of a fresh ``get_spark`` session.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = os.path.join(ROOT, "ffn_polars_spark", "_pydaemon.py")

# Loads the daemon module by file path (no package import, so any CPython
# can run it) and drives one zip through import, no-op reset and rewrite,
# then adds a second zip to sys.path.
SWAP = r"""
import importlib, importlib.util, json, os, sys, zipfile, zipimport
daemon, tmp = sys.argv[1:3]
original = zipimport.zipimporter.invalidate_caches
spec = importlib.util.spec_from_file_location("pydaemon_under_test", daemon)
spec.loader.exec_module(importlib.util.module_from_spec(spec))
out = {
    "minor": sys.version_info[1],
    "swapped": zipimport.zipimporter.invalidate_caches is not original,
}

archive = os.path.join(tmp, "mods.zip")
def write(*names, path=archive):  # rewrites the archive in place: same inode
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n + ".py", f"NAME = {n!r}\n")

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)
def reset():
    reads.clear()
    importlib.invalidate_caches()
    return reads.count(archive)

write("first_mod")
sys.path.insert(0, archive)
import first_mod
reset()  # the daemon's one read before it forks
out["unchanged_reads"] = [reset(), reset()]
write("first_mod", "second_mod")
out["changed_reads"] = reset()
import second_mod
out["second"] = second_mod.NAME
# a pyFile added after the first task
added = os.path.join(tmp, "added.zip")
write("third_mod", path=added)
sys.path.insert(0, added)
reset()
import third_mod
out["third"] = third_mod.NAME
print("SWAP " + json.dumps(out))
"""


# python3.13, when one is on PATH, runs the branch that swaps nothing
@pytest.mark.parametrize(
    "python", [sys.executable, "python3.13"], ids=["this-python", "python3.13"]
)
def test_reset_rereads_only_a_changed_zip(python, tmp_path):
    exe = shutil.which(python)
    if exe is None or subprocess.run([exe, "-c", ""], capture_output=True).returncode:
        pytest.skip(f"{python} is not runnable here")
    proc = subprocess.run(
        [exe, "-c", SWAP, DAEMON, str(tmp_path)],
        capture_output=True, text=True, timeout=120,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("SWAP ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("SWAP "):])
    # a rewritten archive's new module imports, and so does a new archive's
    assert (out["second"], out["third"]) == ("second_mod", "third_mod"), out
    if out["minor"] >= 13:
        # 3.13's reset only drops a cache entry; nothing to swap
        assert not out["swapped"], out
    else:
        assert out["swapped"], out
        assert out["unchanged_reads"] == [0, 0], out
        assert out["changed_reads"] == 1, out


# A pandas_udf under get_spark counts the zip directory reads of one
# importlib.invalidate_caches() in its worker; two queries, one task each.
UNDER_GET_SPARK = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ffn_polars_spark.sources import get_spark
from pyspark.sql import functions as F

spark = get_spark("pydaemon-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")

@F.pandas_udf("string")
def rereads(x):
    import importlib, os, zipimport
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return x.map(lambda _: f"{os.getpid()} {len(reads)}")

runs = []
for _ in range(2):
    rows = spark.range(4, numPartitions=1).select(rereads("id").alias("r")).collect()
    runs.append(sorted({tuple(map(int, r.r.split())) for r in rows}))
spark.stop()
print("RUNS " + json.dumps(runs))
"""


def test_get_spark_workers_reread_no_unchanged_zip():
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="1g",
        # the workers import the daemon module by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    proc = subprocess.run(
        [sys.executable, "-c", UNDER_GET_SPARK, ROOT],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RUNS ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    first, second = json.loads(lines[-1][len("RUNS "):])
    # every task's reset found its archives unchanged and read none of them
    assert [reads for _, reads in first + second] == [0, 0], (first, second)
    # and the second query ran in the first one's worker
    assert [pid for pid, _ in first] == [pid for pid, _ in second], (first, second)


# A pandas_udf under get_spark, with the package importable only through
# the driver's sys.path: not installed, not on PYTHONPATH, not in the cwd.
FROM_SYS_PATH = r"""
import sys
sys.path.insert(0, sys.argv[1])
from ffn_polars_spark.sources import get_spark
from pyspark.sql import functions as F

spark = get_spark("pydaemon-path-test", cpus=1)
spark.sparkContext.setLogLevel("ERROR")

@F.pandas_udf("long")
def plus_one(x):
    return x + 1

total = spark.range(10).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0]
spark.stop()
print(f"TOTAL {total}")
"""


def test_get_spark_workers_import_package_from_driver_path(tmp_path):
    """The worker daemon starts as ``python -m ffn_polars_spark._pydaemon``,
    before any task can add a path, so get_spark must hand the package's
    directory to it; without that every Python task fails with an
    EOFException on the daemon's port."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", FROM_SYS_PATH, ROOT],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("TOTAL ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    assert lines[-1] == "TOTAL 55"

"""The driver JVM's class archive.

``get_spark`` starts its driver JVM from a dynamic AppCDS archive that the
first process without one writes as it exits, from the classes its
session's JVM loaded (``sources.JVM_CLASS_ARCHIVE_CONF``). Every check runs
sessions in subprocesses with their own ``XDG_CACHE_HOME``: the archive is
chosen before the JVM launches and written after it exits. In every case
the JVM writes nothing to stdout, and it has exited when its Python
process has.
"""

import json
import os
import subprocess
import sys

import pytest

from ffn_polars_spark.sources import _whole_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ffn_polars_spark.sources import JVM_CLASS_ARCHIVE_CONF, get_spark

spark = get_spark("class-archive-test", cpus=1)
spark.sparkContext.setLogLevel("ERROR")
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:  # the path, spaces and all, is the 6th field
    mapped = sorted({l.split(None, 5)[5] for l in f.read().splitlines() if l.endswith(".jsa")})
print("SESSION " + json.dumps({
    "record": spark.conf.get(JVM_CLASS_ARCHIVE_CONF),
    "pid": pid,
    "rows": spark.range(10).count(),
    "mapped": mapped,
    "probe": spark.sparkContext.getConf().get("spark.ffn.confDirProbe", None),
}))
"""

pytestmark = pytest.mark.skipif(
    not os.path.isdir("/proc/self"), reason="reads the JVM's memory maps from /proc"
)


def session(cache, conf_dir=None, **environ):
    """One get_spark session in a subprocess, which returns without
    stopping it: ``(record, the archive paths its JVM mapped, the value of
    spark.ffn.confDirProbe)``."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g", **environ)
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", SESSION, ROOT],
        capture_output=True, text=True, env=env, cwd=str(cache), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the JVM's CDS warnings would land on this process's stdout
    lines = proc.stdout.splitlines()
    assert len(lines) == 1 and lines[0].startswith("SESSION "), proc.stdout[-3000:]
    out = json.loads(lines[0][len("SESSION "):])
    assert out["rows"] == 10
    assert not os.path.exists(f"/proc/{out['pid']}"), "the JVM outlived its process"
    return out["record"], out["mapped"], out["probe"]


# An archive of another key, as an earlier install left it, and the part
# file of a writer that died.
STALE = ("0123456789abcdef.jsa", "0123456789abcdef.size", "0123456789abcdef.999999999.part")


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """A cache whose archive the first session wrote, in a directory that
    held the ``STALE`` files before: ``(cache, archive, files of the
    directory after the first session)``. The path holds a space, which the
    driver Java options must quote."""
    cache = tmp_path_factory.mktemp("jvm cache")
    jvm = cache / "ffn_polars_spark" / "jvm"
    jvm.mkdir(parents=True)
    for name in STALE:
        (jvm / name).write_bytes(b"stale")
    mode, archive = session(cache)[0].split(" ", 1)
    assert mode == "dump"
    assert _whole_archive(archive), "the first session wrote no archive"
    return cache, archive, sorted(os.listdir(jvm))


def test_second_session_maps_the_archive(written):
    cache, archive, _ = written
    record, mapped, _ = session(cache)
    assert record == f"load {archive}"
    assert archive in mapped


def test_new_archive_replaces_stale_ones(written):
    """A changed install (a new key) leaves one archive, not two."""
    _, archive, files = written
    key = os.path.basename(archive)[: -len(".jsa")]
    assert files == sorted(["conf", f"{key}.jsa", f"{key}.size"])


def test_refused_archive_is_recorded_off(written):
    """The record names what the JVM did: under ``-Xshare:off`` it maps no
    archive, and the session says so and still works."""
    cache, archive, _ = written
    record, mapped, _ = session(cache, JAVA_TOOL_OPTIONS="-Xshare:off")
    assert record == f"off: the JVM did not map {archive}"
    assert not mapped


@pytest.mark.parametrize("damage", ["zeroed-header", "truncated"])
def test_damaged_archive_is_written_again(written, damage):
    """A zeroed header (a JVM killed while writing) makes the JVM ignore the
    archive; a truncated one would crash it with SIGBUS. Either is written
    again, and the session works. The archive is damaged in place (its key
    covers the cache's path) and whole again after the test."""
    cache, archive, _ = written
    os.chmod(archive, 0o644)
    size = os.path.getsize(archive)
    with open(archive, "r+b") as f:
        if damage == "zeroed-header":
            f.write(bytes(4096))
        else:
            f.truncate(size // 2)
    record, mapped, _ = session(cache)
    assert record == f"dump {archive}"
    assert archive not in mapped
    assert _whole_archive(archive)


def test_conf_dir_with_settings_turns_the_archive_off(tmp_path):
    """The JVM cannot archive with a non-empty directory on the classpath,
    and spark-submit puts the conf directory there. Such a directory is not
    swapped for an empty one: its settings reach the session."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.ffn.confDirProbe 1\n")
    record, mapped, probe = session(tmp_path, conf_dir)
    assert record == f"off: {conf_dir} holds more than templates (a classpath directory)"
    assert probe == "1"
    assert not any(str(tmp_path) in m for m in mapped)
    assert not list((tmp_path / "ffn_polars_spark").glob("jvm/*.jsa"))

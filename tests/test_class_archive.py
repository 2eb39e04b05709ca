"""The driver JVM's class-data archive (``session.get_spark``): every
launch gets a working session, whatever lies at the archive path, and a
user's conf directory wins over the archive.

Each case launches ``get_spark`` in a fresh interpreter with its own
``XDG_CACHE_HOME``, so the user's cache is never touched. A launch that
builds an archive waits at exit for its JVM to write it (~5-15 s)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from orderly_spark.session import _archive_intact

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import json
from orderly_spark.session import archive_state, get_spark

spark = get_spark("archive_test", shuffle_partitions=2)
jvm = spark._jvm
flags = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "state": archive_state(spark),
    "rows": spark.range(5).count(),
    "user_conf": spark.conf.get("spark.orderly.archive.test", None),
    "flags": [flags.getVMOption(f).getValue() for f in ("SharedArchiveFile", "ArchiveClassesAtExit")],
}))
"""


def _launch(cache: Path, conf_dir: Path | None = None) -> dict:
    """Run ``get_spark`` in a fresh interpreter; its stdout must be the
    script's one JSON line (the archive dump logs nothing there)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join([str(REPO), env.get("PYTHONPATH", "")]))
    if conf_dir is None:
        env.pop("SPARK_CONF_DIR", None)
    else:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    out = subprocess.run([sys.executable, "-c", _SCRIPT], env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout[:2000]
    got = json.loads(lines[0])
    assert got["rows"] == 5
    return got


def _archive(cache: Path) -> Path:
    (path,) = (cache / "orderly_spark").glob("*.jsa")
    return path


@pytest.fixture(scope="module")
def built(tmp_path_factory) -> Path:
    """A launch with no archive builds one: its JVM writes it as it
    exits, and the launcher publishes it. Returns the published path."""
    cache = tmp_path_factory.mktemp("cache")
    got = _launch(cache)
    assert got["state"] == "building", got
    assert got["flags"][0] == "" and got["flags"][1].endswith(".tmp"), got
    return _archive(cache)


def test_launch_without_archive_builds_then_maps(built):
    assert _archive_intact(built, check_crc=True)
    # no temporary file is left beside it
    assert sorted(p.name for p in built.parent.iterdir()) == ["empty-conf", built.name]
    got = _launch(built.parent.parent)
    assert got["state"] == "mapped" and got["flags"] == [str(built), ""], got


@pytest.mark.parametrize("damage", ["garbage", "truncated"])
def test_bad_archive_is_not_mapped_and_is_replaced(built, tmp_path, damage):
    """Garbage bytes at the archive path (which would turn off even the
    JDK's base archive) and a truncated archive (which would kill the
    JVM with SIGBUS) are never mapped: the launch starts plain, builds a
    new archive and publishes it over the bad one."""
    cache = tmp_path / "cache"
    archive = cache / "orderly_spark" / built.name
    archive.parent.mkdir(parents=True)
    good = built.read_bytes()
    archive.write_bytes(os.urandom(1 << 20) if damage == "garbage" else good[: len(good) // 3])
    assert not _archive_intact(archive)
    got = _launch(cache)
    assert got["state"] == "building", got
    assert _archive_intact(_archive(cache), check_crc=True)


def test_user_conf_dir_wins_over_archive(tmp_path):
    """A conf directory holding a file other than ``*.template`` is the
    user's conf: the JVM reads it and starts with no archive flags."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.orderly.archive.test  yes\n")
    (conf / "log4j2.properties.template").write_text("")
    got = _launch(tmp_path / "cache", conf_dir=conf)
    assert got == {"state": "none", "rows": 5, "user_conf": "yes", "flags": ["", ""]}, got
    assert not list((tmp_path / "cache").glob("orderly_spark/*.jsa"))

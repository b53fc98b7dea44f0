"""The driver JVM's class-data archive (``class_archive``): keyed by what
it was built from, built by one process at a time and published whole,
never in the way of a user's Spark conf, and never a reason not to start.

Each start runs in a fresh Python process (one JVM per process) with its
own cache directory; no test asserts a timing."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from certified_dogs_and_cats_spark.class_archive import archive_key, cache_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One driver start: a query, then one JSON line with the archive state, a
# conf value, and the classes the JVM loaded and mapped from an archive.
CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from certified_dogs_and_cats_spark import class_archive
from certified_dogs_and_cats_spark.session import get_spark
spark = get_spark("archive-test", cpus=1, shuffle_partitions=1)
rows = spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count().count()
with open(os.environ["CLASS_LOG"]) as fh:
    loads = [line for line in fh if " source: " in line]
print(json.dumps({{
    "state": class_archive.state, "rows": rows,
    "marker": spark.conf.get("spark.archivetest.marker", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "classes": len(loads),
    "shared": sum("source: shared objects file" in line for line in loads),
}}), flush=True)
if os.environ.get("SKIP_BUILD"):
    os._exit(0)  # end without the at-exit build
"""


def _start(tmp_path, cache, tag, **env):
    log = tmp_path / f"class-load-{tag}.log"
    full = {
        **os.environ,
        "XDG_CACHE_HOME": str(cache),
        "SPARK_DRIVER_MEMORY": "512m",
        "CLASS_LOG": str(log),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xlog:class+load=info:file={log} pyspark-shell",
        **env,
    }
    return subprocess.Popen(
        [sys.executable, "-c", CHILD.format(repo=REPO)],
        env=full, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc) -> tuple[dict, str]:
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1]), err


def _archive_dir(cache) -> str:
    return os.path.join(str(cache), "certified_dogs_and_cats_spark")


def _fake_install(root, jars):
    java = root / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "release").write_text('JAVA_RUNTIME_VERSION="17.0.0+1"\n')
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"x")
    spark = root / "spark"
    (spark / "jars").mkdir(parents=True)
    for name, size in jars.items():
        (spark / "jars" / name).write_bytes(b"j" * size)
    return str(spark), str(java)


def test_key_follows_the_jar_list_and_layout_flags(tmp_path):
    spark, java = _fake_install(tmp_path, {"a.jar": 3, "b.jar": 4})
    key = archive_key(spark, java, "-Xmx1g -XX:-UsePerfData")
    assert archive_key(spark, java, "-Xmx8g") == key  # heap size: same archive
    assert archive_key(spark, java, "-XX:+UseParallelGC") != key
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"c")
    added = archive_key(spark, java, "")
    assert added != key
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"cc")
    assert archive_key(spark, java, "") not in (key, added)


def test_cache_dir_is_outside_the_checkout(monkeypatch, tmp_path):
    monkeypatch.delenv("XDG_CACHE_HOME", raising=False)
    assert not os.path.realpath(cache_dir()).startswith(os.path.realpath(REPO) + os.sep)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert cache_dir() == _archive_dir(tmp_path)


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Two processes start at once on a cold cache: one records and builds
    the archive when it exits, the other starts plain meanwhile."""
    tmp = tmp_path_factory.mktemp("cold")
    cache = tmp / "cache"
    git = ["git", "-C", REPO, "status", "--porcelain"]
    before = subprocess.run(git, capture_output=True, text=True).stdout
    procs = [_start(tmp, cache, f"cold{i}") for i in range(2)]
    results = [_result(p)[0] for p in procs]
    after = subprocess.run(git, capture_output=True, text=True).stdout
    return cache, results, before == after


def test_two_cold_starts_leave_one_archive(built):
    cache, results, git_clean = built
    assert [r["rows"] for r in results] == [3, 3]
    assert sorted(r["state"] for r in results) == ["busy", "record"]
    names = sorted(os.listdir(_archive_dir(cache)))
    archives = [n for n in names if n.endswith(".jsa")]
    assert len(archives) == 1
    assert names == sorted(["conf", "lock", *archives])  # no temporary left
    assert os.listdir(os.path.join(_archive_dir(cache), "conf")) == []
    assert git_clean


def test_a_later_start_maps_the_archive(built, tmp_path):
    cache, _, _ = built
    r, _ = _result(_start(tmp_path, cache, "hit", SKIP_BUILD="1"))
    assert (r["state"], r["rows"]) == ("hit", 3)
    assert r["shared"] > r["classes"] // 2
    # The empty conf dir was set for the launch only.
    assert r["conf_dir"] == os.environ.get("SPARK_CONF_DIR")


def test_truncated_archive_is_never_mapped(built, tmp_path):
    cache, _, _ = built
    src = _archive_dir(cache)
    dst = tmp_path / "cache" / "certified_dogs_and_cats_spark"
    dst.mkdir(parents=True)
    (name,) = [n for n in os.listdir(src) if n.endswith(".jsa")]
    with open(os.path.join(src, name), "rb") as fh:
        (dst / name).write_bytes(fh.read(os.path.getsize(fh.name) // 2))
    r, _ = _result(_start(tmp_path, tmp_path / "cache", "cut", SKIP_BUILD="1"))
    assert (r["state"], r["rows"]) == ("hit", 3)
    assert r["shared"] == 0


def test_a_half_written_build_is_not_taken_for_the_archive(built, tmp_path):
    cache, _, _ = built
    src = _archive_dir(cache)
    dst = tmp_path / "cache" / "certified_dogs_and_cats_spark"
    dst.mkdir(parents=True)
    (name,) = [n for n in os.listdir(src) if n.endswith(".jsa")]
    (dst / f"{name}.tmp").write_bytes(b"\0" * 4096)
    r, _ = _result(_start(tmp_path, tmp_path / "cache", "tmp", SKIP_BUILD="1"))
    assert (r["state"], r["rows"]) == ("record", 3)


def test_real_conf_file_gives_a_plain_start_that_keeps_it(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.archivetest.marker 42\n")
    (conf / "log4j2.properties.template").write_text("")
    r, err = _result(_start(tmp_path, tmp_path / "cache", "conf", SPARK_CONF_DIR=str(conf)))
    assert r["state"].startswith("fallback")
    assert (r["marker"], r["rows"]) == ("42", 3)
    assert str(conf / "spark-defaults.conf") in err
    assert not os.path.exists(_archive_dir(tmp_path / "cache"))


def test_unwritable_cache_dir_gives_a_plain_start(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    r, _ = _result(_start(tmp_path, blocker, "ro"))
    assert r["state"].startswith("fallback")
    assert r["rows"] == 3

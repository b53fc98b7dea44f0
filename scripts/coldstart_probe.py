"""What a cold start of the Spark driver costs, and what the class-data
archive (``certified_dogs_and_cats_spark.class_archive``) takes off it.

Starts K fresh Python processes, one after another. Each one times:

- ``launcher_s``: the ``spark-submit`` launcher JVM alone
  (``org.apache.spark.launcher.Main``, which builds the driver's command
  line). The archive does not cover it;
- ``get_spark_s``: ``session.get_spark``, which starts the driver JVM;
- ``query_s``: the first query (a small grouped count);

and reports the classes its driver JVM loaded, the share of them mapped
from the archive (counted from ``-Xlog:class+load``, passed with
``--driver-java-options``), the archive's ``state`` for that start
(``hit``, ``record``, ``busy`` or ``fallback: <reason>``), the archive's
size in bytes after the process ended, and ``exit_s``, the time from the
query's end to the process's end. On a ``record`` run ``exit_s`` is
mostly the archive's build, and ``bytes`` is what it left on disk.

Usage::

    python scripts/coldstart_probe.py [-k 3] [--cold]

``--cold`` deletes the archive directory first, so the first process
records and builds the archive and the later ones start from it. Linux
only; run it on an otherwise idle machine, since it measures wall time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _launcher_s() -> float:
    """Wall time of the launcher JVM, run the way ``bin/spark-class`` runs
    it (after ``load-spark-env.sh``)."""
    from pyspark.find_spark_home import _find_spark_home

    script = (
        '. "$SPARK_HOME/bin/load-spark-env.sh" && exec "${JAVA_HOME:+$JAVA_HOME/bin/}java"'
        ' -Xmx128m $SPARK_LAUNCHER_OPTS -cp "$SPARK_HOME/jars/*"'
        " org.apache.spark.launcher.Main org.apache.spark.deploy.SparkSubmit pyspark-shell"
    )
    env = {**os.environ, "SPARK_HOME": _find_spark_home()}
    t0 = time.perf_counter()
    subprocess.run(["bash", "-c", script], env=env, stdout=subprocess.DEVNULL, check=True)
    return time.perf_counter() - t0


def child(log_path: str) -> None:
    """One cold start; prints one JSON line."""
    from certified_dogs_and_cats_spark import class_archive
    from certified_dogs_and_cats_spark.session import get_spark

    launcher_s = _launcher_s()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xlog:class+load=info:file={log_path} pyspark-shell"
    )
    t0 = time.perf_counter()
    spark = get_spark("coldstart", cpus=len(os.sched_getaffinity(0)))
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    t2 = time.perf_counter()
    with open(log_path) as fh:
        sources = [line for line in fh if " source: " in line]
    shared = sum("source: shared objects file" in line for line in sources)
    print(json.dumps({
        "launcher_s": launcher_s, "get_spark_s": t1 - t0, "query_s": t2 - t1,
        "classes": len(sources), "shared_pct": 100.0 * shared / max(len(sources), 1),
        "state": class_archive.state,
    }), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-k", type=int, default=3, help="fresh processes to start")
    ap.add_argument("--cold", action="store_true", help="delete the archive first")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.child:
        child(args.child)
        return 0

    from certified_dogs_and_cats_spark.class_archive import cache_dir

    if args.cold:
        shutil.rmtree(cache_dir(), ignore_errors=True)
    cols = ("launcher_s", "get_spark_s", "query_s", "classes", "shared_pct", "bytes", "exit_s")
    print(f"# {len(os.sched_getaffinity(0))} CPUs; archive dir {cache_dir()}")
    print("run " + " ".join(f"{c:>11}" for c in cols) + "  state")
    with tempfile.TemporaryDirectory() as tmp:
        for i in range(args.k):
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--child",
                 os.path.join(tmp, f"class-load-{i}.log")],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            row = None
            for line in proc.stdout:
                if line.startswith("{"):
                    row = json.loads(line)
                    t_done = time.perf_counter()
            if proc.wait() != 0 or row is None:
                print(f"{i:<3} failed (exit {proc.returncode})")
                continue
            row["exit_s"] = time.perf_counter() - t_done
            row["bytes"] = sum(os.path.getsize(p) for p in glob.glob(os.path.join(cache_dir(), "*.jsa")))
            print(f"{i:<3} " + " ".join(
                f"{row[c]:>11.3f}" if isinstance(row[c], float) else f"{row[c]:>11}" for c in cols
            ) + f"  {row['state']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

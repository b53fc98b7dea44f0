"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

It builds its inputs from ``--seed``, measures whole passes of the workload
until ``--seconds`` have gone by, checks the program's outputs, and prints a
short report followed by one JSON line, the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the calls
into each layer in spans, reports the per-layer metrics instead and writes
the spans to ``perfbench/out/trace-<workload>-<seed>.jsonl``.

Every scratch file (Spark's local and warehouse directories, the JVM's and
Python's temporary files, the generated inputs) lives under
``perfbench/.work/`` and is removed at exit; the JVM is stopped and waited
for before the result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "daily_etl": "the reference's daily Bronze-Silver-Gold job with re-run, "
                 "breed-mapping upsert and a gold dashboard refresh per date; "
                 "exercises the whole lakehouse path",
    "corpus_prep": "the 10 shuffle- and CPU-heavy training-data queries on the "
                   "sf0.1 corpus in seeded order; never touches the pipeline, so "
                   "lakehouse changes should not move it",
}


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed 1 GiB heap: peak RSS then tracks the program, not when the
    # JVM decided to grow its heap.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    tempfile.tempdir = None


def _measure(args, work: str) -> tuple[dict, list[str]]:
    from perfbench import corpus, etl, metrics, stats
    from perfbench.harness import Session, Tally
    from perfbench.trace import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    tally = Tally()
    session = Session.start(tracer)
    try:
        workload = {"daily_etl": etl, "corpus_prep": corpus}[args.workload]
        out = workload.run(session, tracer, tally, work, args.seed, args.seconds)
        tracer.restore()
        peak_rss_mb = session.peak_rss_mb()
        env = session.fingerprint()
    finally:
        session.stop()

    q = out.query_ms
    tail = stats.highest_supported(len(q))
    lines = [
        "env " + json.dumps({**env, "workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}),
        "report " + json.dumps(out.report),
        f"setup_s {out.setup_s:.3f} (session {session.get_spark_s:.3f})",
        f"passes n={len(out.pass_s)} wall median {statistics.median(out.pass_s):.3f} s "
        f"all {[round(p, 3) for p in out.pass_s]}; "
        f"CPU median {statistics.median(out.pass_cpu_s):.2f} s",
        f"queries n={len(q)} wall p50 {statistics.median(q):.1f} ms"
        f" geomean {statistics.geometric_mean(q):.1f} ms"
        + (f", p{tail:g} {stats.percentile(q, tail):.1f} ms" if tail and tail > 50 else "")
        + f"; CPU geomean {statistics.geometric_mean(out.query_cpu_ms):.1f} ms"
        + " (a percentile above p50 needs 10 samples beyond it)",
        f"checks attempted={tally.attempted} failed={tally.failed} "
        f"failed_ratio={tally.failed / max(tally.attempted, 1):.4f}",
    ]
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.write(path)
        lines.append(f"trace {len(tracer.spans)} spans -> {os.path.relpath(path, ROOT)}")
        values = out.layers
    else:
        values = {
            "setup_s": out.setup_s,
            "pass_cpu_s": statistics.median(out.pass_cpu_s),
            "query_cpu_ms": statistics.geometric_mean(out.query_cpu_ms),
            "peak_rss_mb": peak_rss_mb,
        }
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics.emit(values, trace=bool(args.trace)),
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        sys.path.insert(0, ROOT)
        result, lines = _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its work directory there
    sys.stderr.flush()
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the paper's daily EOD pipeline.

    python3 perfbench/run.py --workload eod_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see ``workloads.py``):

- ``eod_daily``: ``run_eod_pipeline`` on consecutive new trading days over
  a copy of a 40-trading-day, 10,000-ticker warehouse, audits collected
  each day; one of the measured days is a seeded revised re-landing.
- ``eod_backfill``: one ``backfill()`` over a seeded date range through
  the synthetic ``polygon_eod`` DataSource into an empty warehouse.

One driver process, ``local[N]`` with N = usable cores and as many shuffle
partitions, and one caller in a closed loop: each day or call starts when
the previous one has finished. ``--trace 0`` prints the end-to-end
metrics, in CPU seconds of the run's process tree (``workloads.py`` says
why), and reports the wall-clock figures beside them on standard error;
``--trace 1`` wraps the program's public functions from here,
prints the per-layer metrics and the tracing overhead against the
untraced run of the same seed, and writes the spans to
``perfbench/out/results``. Either way the correctness gate in
``checks.py`` runs after the timed window, and the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

The ``eod_daily`` warehouse history is built once per checkout and
source version, by the first run of either workload, in a child process
(``--build-history``) into ``perfbench/out/cache``. The build commits
its warehouse after every chunk of ``workloads.HISTORY_CHUNK_DAYS``
trading days, so a build that is stopped resumes from its last chunk.
Every file the benchmark writes stays under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
PACKAGE = "polygon_daily_market_data_pipeline_spark"
CPUS = len(os.sched_getaffinity(0))


def _configure_env(run_dir: str) -> None:
    """Process environment the driver JVM and the Python workers inherit;
    must be set before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # the polygon_eod DataSource runs in Python workers, which import
        # the package by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def source_digest() -> str:
    """Hash of the program's sources and the benchmark's history
    parameters: a cached history is reused only by the code that built it."""
    import workloads

    h = hashlib.sha256(repr((workloads.HISTORY, workloads.HISTORY_CHUNK_DAYS)).encode())
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _die_with_parent() -> None:
    """In the history-build child: exit when the run that started it does."""
    import ctypes
    import signal

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def ensure_history() -> str:
    """The seeded warehouse for ``eod_daily``, built on first use by a
    child process so this run's session starts cold."""
    cache = os.path.join(OUT, "cache")
    os.makedirs(cache, exist_ok=True)
    dest = os.path.join(cache, f"history-{source_digest()}")
    with open(os.path.join(cache, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for stale in os.listdir(cache):
            path = os.path.join(cache, stale)
            # other source versions; this one's partial build once it is done
            if stale.startswith("history-") and (
                not path.startswith(dest) or (path != dest and os.path.isdir(dest))
            ):
                shutil.rmtree(path)
        if not os.path.isdir(dest):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--build-history", dest],
                check=True, stdout=sys.stderr, preexec_fn=_die_with_parent,
            )
    return dest


def build_history(work: str, dest: str) -> None:
    """Build the history into ``work`` chunk by chunk, resuming after the
    last committed chunk, then move the finished warehouse to ``dest``.

    Chunk ``n`` runs on a copy of chunk ``n - 1``'s warehouse and is
    committed by renaming it to ``wh-<n>``: a build stopped mid-chunk
    leaves the committed warehouse intact. ``backfill()`` runs the same
    per-date merges in the same order whether or not it is chunked.
    """
    import workloads

    chunks = workloads.history_chunks()
    done = [n for n in range(len(chunks)) if os.path.isdir(os.path.join(work, f"wh-{n}"))]
    first = max(done) + 1 if done else 0
    if first < len(chunks):
        spark = workloads.start_session(work)
        try:
            for n in range(first, len(chunks)):
                nxt = os.path.join(work, "wh-next")
                shutil.rmtree(nxt, ignore_errors=True)
                if n:
                    shutil.copytree(os.path.join(work, f"wh-{n - 1}"), nxt)
                workloads.seed_history(spark, nxt, os.path.join(work, "landing"), *chunks[n])
                os.rename(nxt, os.path.join(work, f"wh-{n}"))
                if n:
                    shutil.rmtree(os.path.join(work, f"wh-{n - 1}"))
                print(f"history chunk {n + 1}/{len(chunks)} committed: {chunks[n]}")
        finally:
            workloads.stop_session(spark)
    os.rename(os.path.join(work, f"wh-{len(chunks) - 1}"), dest)
    shutil.rmtree(work)


def _sweep_stopped_runs() -> None:
    """Remove the run directories that stopped runs left behind."""
    if os.path.isdir(OUT):
        for name in os.listdir(OUT):
            if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
                shutil.rmtree(os.path.join(OUT, name), ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["eod_daily", "eod_backfill"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--build-history", metavar="DIR", help=argparse.SUPPRESS)
    args = p.parse_args()
    if not args.workload and not args.build_history:
        p.error("--workload is required")

    if args.build_history:
        run_dir = f"{args.build_history}.partial"  # kept: a build resumes in it
    else:
        _sweep_stopped_runs()
        run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    _configure_env(run_dir)
    try:
        import workloads  # imports the program; fails outside a full checkout
    except ImportError as exc:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.build_history:
        build_history(run_dir, args.build_history)
        return 0

    # built by whichever workload runs first in a checkout
    history = ensure_history()
    try:
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            run_dir=run_dir, history=history,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    spans = result.pop("spans")
    if args.trace:
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(spans, f)
        result["overhead"] = workloads.tracing_overhead(result, f"{stem}-trace0.json")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(result, f, indent=1)
    for line in result["report"]:
        print(line, file=sys.stderr)
    for line in result.get("overhead", []):
        print(line, file=sys.stderr)
    # BENCHMARK.json names the metrics each mode prints, with their units
    kind = "per_layer" if args.trace else "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    values = result["metrics"][kind]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads, their metrics, and the traced run's
per-layer view.

End-to-end metrics, measured with tracing off (every workload reports
each; a day is one ``run_eod_pipeline`` call). Each is CPU seconds, user
plus system, of the benchmark's process tree: the Python driver, the
driver JVM and the Python workers (``tree_cpu_s``). That is what a day
costs on whatever machine runs it, and it leaves out the time the host
gives the vCPUs to other tenants: on a shared 4-core VM the wall-clock
figures of the same code moved 30-60% between runs minutes apart, while
their CPU seconds moved about a quarter as much. The wall-clock figures
of the same spans go to the report and the results file, unbounded.

- ``setup_s``: ``get_spark`` (the program's set-up) plus the harness's
  input preparation. ``eod_daily``: the median of ``PREP_REPEATS``
  rounds of landing-CSV generation and warehouse copy. ``eod_backfill``:
  none (the DataSource makes its input), so ``get_spark`` alone.
- ``daily_cpu_s.p50``: median over the warm days. ``eod_daily``: landing
  CSV to both audit frames collected. ``eod_backfill``: the days inside
  the ``backfill()`` call after its first, cold one.
- ``daily_cold_cpu_s``: ``get_spark`` to the first day done in a fresh
  session (``eod_backfill``: the first day of the call, ingest included).
- ``cpu_s_per_new_day``: per new trading day loaded. ``eod_backfill``:
  the ``backfill()`` call ÷ its days, in a fresh session as a backfill
  command runs. ``eod_daily``: the warm loop ÷ its new days; its revised
  re-landing costs CPU and loads no new day, so this is the cost of
  catching up by daily runs.

The days a run measures are fixed by ``--seed`` and ``--seconds`` alone,
never by how fast they ran, so every commit times the same days.

Failed ÷ attempted operations (a day, or a ``backfill()`` call) is the
result line's ``failed`` and ``attempted``.

Per-layer metrics, from the traced run (wall-clock spans, medians over
the workload's days), and the end-to-end metric each should move:

- ``session.get_spark.s`` → ``daily_cold_cpu_s``, ``setup_s``.
- ``pipeline.jobs_per_day``; ``pipeline.run_eod_pipeline.self_s`` (driver
  planning and gaps, the premerge collect included);
  ``pipeline.Warehouse.read`` (partition discovery, grows with history),
  ``.overwrite_partitions`` and ``.overwrite`` (full dimension rewrite);
  ``quality.min_cardinality_gate.s`` (the first CSV scan),
  ``quality.check_loaded.s``; ``star.dim_security_merge.s`` (its max-id
  collect) and ``star.plan_s`` (the lazy builders: planning only);
  ``warehouse.*_written_per_day`` and ``warehouse.write_amplification``
  (bytes written ÷ landing bytes) → ``daily_cpu_s.p50`` on both.
- ``backfill.ingest_s``/``.ingest_jobs`` (DataSource read, landing
  write, the second ``distinct(trade_date)`` scan), ``.loop_s_per_day``,
  ``.jobs_per_day`` → ``cpu_s_per_new_day`` on ``eod_backfill``. On
  ``eod_daily``, which calls no ``backfill()``, they are 0.
- ``canary_s``: none; a fixed tiny query once per run that shows how
  fast the machine ran.
- ``peak_rss_mb``: high-water RSS of the Python driver plus the driver
  JVM; not an end-to-end metric because the JVM's heap growth made it
  vary from 2.0 to 3.9 GB between runs of the same code.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import random
import shutil
import statistics
import subprocess
import time
from typing import NamedTuple

from polygon_daily_market_data_pipeline_spark import pipeline
from polygon_daily_market_data_pipeline_spark.operators import quality
from polygon_daily_market_data_pipeline_spark.plans import star
from polygon_daily_market_data_pipeline_spark.session import get_spark

import checks
import landing
import spans

CPUS = len(os.sched_getaffinity(0))
FEED = {"num_tickers": str(landing.N_TICKERS)}
FEED_TS = dt.datetime(2024, 1, 1)
# 40 trading days: past the 32 paths above which Spark lists partitions
# with a parallel job, so a day pays what a deep history costs, while the
# build stays near 3 minutes on 4 cores
HISTORY = {"start": "2024-01-01", "end": "2024-02-23", "trading_days": 40,
           "ingest_ts": FEED_TS.isoformat(), **FEED}
# committed separately, so a stopped history build resumes; one chunk
# takes about 90 s on 4 cores
HISTORY_CHUNK_DAYS = 20
RUN_TS0 = dt.datetime(2024, 6, 1)
PREP_REPEATS = 3
# Day counts grow with --seconds, so the measured window is about that
# long on 4 cores: a warm eod_daily day takes ~6 s, and a backfill day
# ~6 s plus a share of the ~7 s ingest. Three days at least, so the
# median day is a warm one.
SECONDS_PER_WARM_DAY = 6
SECONDS_PER_BACKFILL_DAY = 8
MIN_DAYS = 3

STAR_PLANNERS = ["core_source_rows", "core_upsert", "dim_date_merge",
                 "fact_source_rows", "fact_upsert"]


# -- session ---------------------------------------------------------------

def start_session(run_dir: str):
    spark = get_spark(
        "perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM, and with it the Python
    worker daemon, to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and its
    descendants (the driver JVM and the Python workers), live or reaped."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


class Stamp(NamedTuple):
    """A moment, or the span between two, in wall-clock and CPU seconds."""

    wall: float
    cpu: float

    def __add__(self, other: "Stamp") -> "Stamp":
        return Stamp(self.wall + other.wall, self.cpu + other.cpu)

    def __sub__(self, other: "Stamp") -> "Stamp":
        return Stamp(self.wall - other.wall, self.cpu - other.cpu)


def stamp() -> Stamp:
    return Stamp(time.perf_counter(), tree_cpu_s())


E2E_CPU = ("setup_s", "daily_cpu_s.p50", "daily_cold_cpu_s", "cpu_s_per_new_day")
E2E_WALL = ("setup_wall_s", "daily_wall_s.p50", "daily_cold_wall_s", "wall_s_per_new_day")


def end_to_end(setup: Stamp, warm: list[Stamp], cold: Stamp, work: Stamp,
               new_days: int) -> tuple[dict, dict]:
    """The end-to-end metrics (CPU seconds) and the same figures in
    wall-clock seconds, for the report."""
    def pick(k: int) -> list[float]:
        return [setup[k], spans.median(w[k] for w in warm), cold[k],
                work[k] / new_days if new_days else 0.0]
    return dict(zip(E2E_CPU, pick(1))), dict(zip(E2E_WALL, pick(0)))


def job_counter(spark):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return sched.nextJobId


def canary_s(spark) -> float:
    t = time.perf_counter()
    spark.range(0, 4_000_000, 1, CPUS).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t


def history_chunks() -> list[tuple[str, str]]:
    """``HISTORY``'s trading days as (first, last) date ranges of at most
    ``HISTORY_CHUNK_DAYS`` trading days each."""
    start = dt.date.fromisoformat(HISTORY["start"])
    days = landing.trading_days_after(start - dt.timedelta(days=1), HISTORY["trading_days"])
    assert days[-1].isoformat() == HISTORY["end"]
    return [(days[i].isoformat(), days[min(i + HISTORY_CHUNK_DAYS, len(days)) - 1].isoformat())
            for i in range(0, len(days), HISTORY_CHUNK_DAYS)]


def seed_history(spark, wh: str, landing_dir: str, start: str, end: str) -> None:
    """One chunk of the ``eod_daily`` starting warehouse: the paper's
    backfill over ``start``..``end`` through the synthetic feed."""
    pipeline.backfill(spark, wh, landing_dir, start, end, FEED, fixed_ts=FEED_TS)
    shutil.rmtree(landing_dir)


# -- tracing ---------------------------------------------------------------

def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _landing_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(size for _, size, _ in _files(path).values())


def install_tracing(tracer: spans.Tracer, storage: list[tuple[str, int, int, float]]) -> None:
    """Wrap the program's public functions at their module attribute.

    ``run_eod_pipeline`` also gets an outer storage probe: the warehouse
    directory walked before and after each day (in spans of their own,
    so no layer's self time absorbs them) gives the bytes and files the
    day wrote. ``storage`` receives (enclosing span, bytes, files,
    bytes ÷ landing bytes) per day.
    """
    tracer.wrap(pipeline, "typed_raw_load", "sources.typed_raw_load")
    for m in ("read", "overwrite", "overwrite_partitions"):
        tracer.wrap(pipeline.Warehouse, m, f"pipeline.Warehouse.{m}")
    for fn in ("min_cardinality_gate", "check_loaded", "premerge_metrics", "postmerge_metrics"):
        tracer.wrap(quality, fn, f"quality.{fn}")
    for fn in ("dim_security_merge", *STAR_PLANNERS):
        tracer.wrap(star, fn, f"star.{fn}")
    tracer.wrap(pipeline, "backfill", "pipeline.backfill")
    tracer.wrap(pipeline, "run_eod_pipeline", "pipeline.run_eod_pipeline")
    traced_day = pipeline.run_eod_pipeline

    def probed_day(spark, warehouse_root, landing_path, *args, **kwargs):
        enclosing = tracer.current()
        with tracer.span("perfbench.walk"):
            before = _files(warehouse_root)
        out = traced_day(spark, warehouse_root, landing_path, *args, **kwargs)
        with tracer.span("perfbench.walk"):
            after = _files(warehouse_root)
            new = [after[p][1] for p in after if before.get(p) != after[p]]
            storage.append((enclosing, sum(new), len(new),
                            sum(new) / _landing_bytes(landing_path)))
        return out

    tracer.patch(pipeline, "run_eod_pipeline", probed_day)


def layer_metrics(
    tracer: spans.Tracer, day_parent: str, storage: list, session_s: float, canary: float
) -> dict[str, float]:
    """Per-day figures are medians over the workload's days (the
    ``run_eod_pipeline`` spans under ``day_parent``); ``backfill.*`` come
    from the run's ``backfill()`` call, and are 0 in a run without one."""
    days = tracer.per_call("pipeline.run_eod_pipeline", day_parent)

    def med(pick) -> float:
        return spans.median(pick(sp, sums) for sp, sums in days)

    def total(name: str, k: int):
        return med(lambda sp, sums: sums.get(name, (0.0, 0))[k])

    m = {
        "session.get_spark.s": session_s,
        "pipeline.jobs_per_day": med(lambda sp, _: sp.jobs),
        "pipeline.run_eod_pipeline.self_s": med(lambda sp, _: sp.self_s),
        "pipeline.Warehouse.read.s": total("pipeline.Warehouse.read", 0),
        "pipeline.Warehouse.read.jobs": total("pipeline.Warehouse.read", 1),
        "pipeline.Warehouse.overwrite_partitions.s": total("pipeline.Warehouse.overwrite_partitions", 0),
        "pipeline.Warehouse.overwrite_partitions.jobs": total("pipeline.Warehouse.overwrite_partitions", 1),
        "pipeline.Warehouse.overwrite.s": total("pipeline.Warehouse.overwrite", 0),
        "quality.min_cardinality_gate.s": total("quality.min_cardinality_gate", 0),
        "quality.check_loaded.s": total("quality.check_loaded", 0),
        "star.dim_security_merge.s": total("star.dim_security_merge", 0),
        "star.plan_s": med(lambda sp, sums: sum(sums.get(f"star.{n}", (0.0, 0))[0]
                                                for n in STAR_PLANNERS)),
    }
    mine = [s for s in storage if s[0] == day_parent]
    m["warehouse.bytes_written_per_day"] = spans.median(s[1] for s in mine)
    m["warehouse.files_written_per_day"] = spans.median(s[2] for s in mine)
    m["warehouse.write_amplification"] = spans.median(s[3] for s in mine)
    m.update({"backfill.ingest_s": 0.0, "backfill.ingest_jobs": 0,
              "backfill.loop_s_per_day": 0.0, "backfill.jobs_per_day": 0.0})
    bf_i = [i for i, sp in enumerate(tracer.spans) if sp.name == "pipeline.backfill"]
    if bf_i:
        bf = tracer.spans[bf_i[-1]]
        bf_days = [sp for sp in tracer.spans if sp.name == "pipeline.run_eod_pipeline"
                   and sp.parent == bf_i[-1]]
        m["backfill.ingest_s"] = bf.self_s
        m["backfill.ingest_jobs"] = bf.self_jobs
        if bf_days:
            m["backfill.loop_s_per_day"] = sum(sp.s for sp in bf_days) / len(bf_days)
            m["backfill.jobs_per_day"] = sum(sp.jobs for sp in bf_days) / len(bf_days)
    m["canary_s"] = canary
    return m


def tracing_overhead(traced: dict, untraced_path: str) -> list[str]:
    if not os.path.exists(untraced_path):
        return [f"tracing overhead: no untraced run of this seed ({untraced_path})"]
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]["end_to_end"]
    lines = []
    for name in ("daily_cpu_s.p50", "cpu_s_per_new_day"):
        t, b = traced["metrics"]["end_to_end"][name], base[name]
        lines.append(f"tracing overhead {name}: traced {t:.4f} - untraced {b:.4f}"
                     f" = {t - b:+.4f} ({(t - b) / b:+.1%})")
    return lines


# -- workloads ---------------------------------------------------------------

class _Run:
    def __init__(self, seed: int, seconds: float, trace: bool, run_dir: str):
        self.seed, self.seconds, self.trace, self.run_dir = seed, seconds, trace, run_dir
        self.rng = random.Random(seed)
        t = stamp()
        self.spark = start_session(run_dir)
        self.session = stamp() - t
        self.session_s = self.session.wall
        self.tracer = spans.Tracer(job_counter(self.spark))
        self.storage: list = []
        self.report: list[str] = []
        self.errors: dict[object, str] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.trace else contextlib.nullcontext()

    def attempt(self, key, fn, *args, **kwargs):
        """Run one operation; an exception fails it and the run goes on."""
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — counted and reported
            self.errors[key] = f"{type(exc).__name__}: {exc}"
            return None

    def begin_measuring(self) -> None:
        """Drop cached frames; in a traced run, install the spans."""
        self.spark.catalog.clearCache()
        if self.trace:
            install_tracing(self.tracer, self.storage)

    def finish(self, e2e: tuple[dict, dict], attempted: int, day_parent: str) -> dict:
        """Stop the session and assemble the result; the caller runs the
        correctness gate afterwards and fills in ``failed``."""
        self.tracer.unwrap_all()
        per_layer = {}
        if self.trace:
            rss = peak_rss_mb(self.spark)
            per_layer = layer_metrics(self.tracer, day_parent, self.storage,
                                      self.session_s, canary_s(self.spark))
            per_layer["peak_rss_mb"] = rss
        stop_session(self.spark)
        self.report += [f"failed {k}: {v}" for k, v in self.errors.items()]
        return {
            "attempted": attempted,
            "failed": 0,
            "metrics": {
                "end_to_end": e2e[0],
                "per_layer": per_layer,
            },
            "wall": e2e[1],
            "report": self.report,
            "spans": [vars(s) for s in self.tracer.spans],
        }


def eod_daily(r: _Run, history: str) -> dict:
    first_day = landing.trading_days_after(
        dt.date.fromisoformat(HISTORY["end"]), 1 + r.rng.randrange(5))[-1]
    n_warm = max(MIN_DAYS, round(r.seconds / SECONDS_PER_WARM_DAY))
    prep = []
    for _ in range(PREP_REPEATS):
        t = stamp()
        shutil.rmtree(r.path("inputs"), ignore_errors=True)
        landings = landing.generate(r.path("inputs", "landing"), r.seed, first_day,
                                    1 + n_warm, RUN_TS0)
        shutil.copytree(history, r.path("inputs", "wh"))
        prep.append(stamp() - t)
    wh = r.path("inputs", "wh")
    audits: dict[int, dict] = {}

    def day(l: landing.Landing) -> Stamp:
        t = stamp()
        with r.span("day"):
            out = pipeline.run_eod_pipeline(r.spark, wh, l.path, l.trade_date, fixed_ts=l.ingest_ts)
            audits[l.op] = {k: [row.asDict() for row in v.collect()] for k, v in out.items()}
        return stamp() - t

    cold = r.attempt(0, day, landings[0]) or Stamp(0.0, 0.0)
    r.begin_measuring()
    warm = []
    t = stamp()
    for l in landings[1:]:
        s = r.attempt(l.op, day, l)
        if s is not None:
            warm.append(s)
    loop = stamp() - t
    new_days = sum(not l.revised and l.op not in r.errors for l in landings[1:])
    setup = Stamp(*(r.session[k] + statistics.median(p[k] for p in prep) for k in (0, 1)))
    result = r.finish(end_to_end(setup, warm, r.session + cold, loop, new_days),
                      len(landings), "day")

    failed = set(r.errors)
    chk = checks.Checker([checks.Landed(l.op, l.trade_date, l.path, l.ingest_ts)
                          for l in landings])
    try:
        bad, problems = chk.warehouse(wh, history)
        expect = chk.audit_expectations()
    finally:
        chk.close()
    for l in landings:
        if bad & {l.trade_date, checks.ALL_DATES}:
            failed.add(l.op)
        got = audits.get(l.op)
        if got is None:
            continue
        want = expect[l.op]
        seen = {**got["premerge"][0], **got["postmerge"][0]}
        diff = {k: (seen.get(k), v) for k, v in want.items() if seen.get(k) != v}
        if diff:
            failed.add(l.op)
            problems.append(f"audits of op {l.op} ({l.trade_date}): got/want {diff}")
    result["failed"] = len(failed)
    revised = [f"op {l.op} ({l.trade_date})" for l in landings if l.revised]
    result["report"] = [
        f"eod_daily seed {r.seed}: {len(landings)} days from {first_day}, revised re-landing"
        f" {', '.join(revised)}",
        *(f"  {kind} s: session {r.session[k]:.3f}; set-up rounds"
          f" {', '.join(f'{x[k]:.3f}' for x in prep)}; cold day {cold[k]:.3f};"
          f" warm {', '.join(f'{x[k]:.3f}' for x in warm)} in {loop[k]:.3f}"
          for kind, k in (("wall", 0), ("CPU", 1))),
        f"daily_cpu_s.tail: not reported, n={len(warm)} warm days; a percentile with"
        f" >=10 samples beyond it needs n>=11",
        *problems, *result["report"],
    ]
    return result


def eod_backfill(r: _Run, history: str | None) -> dict:
    day_s: list[tuple[Stamp, Stamp]] = []
    plain_day = pipeline.run_eod_pipeline

    def timed_day(*args, **kwargs):
        t = stamp()
        out = plain_day(*args, **kwargs)
        day_s.append((t, stamp()))
        return out

    r.tracer.patch(pipeline, "run_eod_pipeline", timed_day)
    r.begin_measuring()
    start = dt.date(2024, 1, 1) + dt.timedelta(days=r.rng.randrange(340))
    n_days = max(MIN_DAYS, round(r.seconds / SECONDS_PER_BACKFILL_DAY))
    want_dates = [d.isoformat() for d in
                  landing.trading_days_after(start - dt.timedelta(days=1), n_days)]
    wh, land = r.path("wh"), r.path("landing")
    t = stamp()
    dates = r.attempt("backfill", pipeline.backfill, r.spark, wh, land,
                      start.isoformat(), want_dates[-1], FEED, fixed_ts=FEED_TS) or []
    call = stamp() - t
    cold = r.session + (day_s[0][1] - t if day_s else Stamp(0.0, 0.0))
    result = r.finish(end_to_end(r.session, [b - a for a, b in day_s[1:]], cold, call,
                                 len(dates)), 1, "pipeline.backfill")

    problems = []
    if dates != want_dates:
        problems.append(f"backfill returned {dates}, want {want_dates}")
    chk = checks.Checker([checks.Landed(i, d, f"{land}/_pdate={d}/*.csv", FEED_TS)
                          for i, d in enumerate(dates)])
    try:
        _, found = chk.warehouse(wh, None) if dates else (set(), [])
        problems += found
        for d, n in chk.symbols_per_date():
            if n != landing.N_TICKERS:
                problems.append(f"landing {d}: {n} symbols, want {landing.N_TICKERS}")
    finally:
        chk.close()
    result["failed"] = int(bool(problems or r.errors))
    result["report"] = [
        f"eod_backfill seed {r.seed}: {start}..{want_dates[-1]}, {len(dates)} trading days",
        *(f"  {kind} s: session {r.session[k]:.3f}; backfill() {call[k]:.3f}, days"
          f" {', '.join(f'{b[k] - a[k]:.3f}' for a, b in day_s)}"
          for kind, k in (("wall", 0), ("CPU", 1))),
        *problems, *result["report"],
    ]
    return result


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str,
        history: str | None) -> dict:
    fn = {"eod_daily": eod_daily, "eod_backfill": eod_backfill}[workload]
    return fn(_Run(seed, seconds, trace, run_dir), history)

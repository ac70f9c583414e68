"""The measured process of a benchmark run: one fresh interpreter.

    python3 perfbench/runner.py --workload W --t0 T --out F [--setup-only]
        [--seed N --seconds S] [--trace 0|1]

``run.py`` starts this script once per set-up, so every set-up is cold: the
interpreter, the imports of PySpark and the contract's dependencies, the JVM
launch, the contract import and one warm-up query.  Its set-up time runs
from ``--t0`` (the parent's wall clock when it started this process) to the
end of the warm-up.  With ``--setup-only`` the process stops there;
otherwise it goes on with

1. the timed window: passes over the workload's cases, the cold first pass
   in the workload's order and every warm pass in an order drawn from the
   seed; one client, each execution a plan build then a noop-sink action;
2. the correctness check, outside the timed region: each case's output
   (its last built frame, collected again) against its DuckDB oracle
   (``oracle.py``).

A traced run has the Spark event log on and, in each warm pass, runs every
case twice, with and without the ``spans.Tracer`` spans and job groups.  The
resident memory of this process and its descendants (JVM, Python workers)
is sampled from the start of the set-up to the end of the window.  The
results go to ``--out`` as JSON; the event log is reduced by ``run.py``.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import importlib
import json
import math
import os
import random
import re
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

import eventlog
import spans as tracing
from workloads import ROOT, WARMUP, WORK, WORKLOADS, Workload, dataset_dir, split_case

#: Set-ups per run, each in a fresh process; ``setup_s`` is their median.
SETUPS = 2
MEMORY = "3g"
#: Warm passes each query gets at least, even if the window has run out.
MIN_WARM = 2


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: the share of time the host ran
    something else on this machine's virtual CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def session_conf(work: str, cores: int) -> dict[str, str]:
    """``bench.py``'s session settings at ``local[cores]``, kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "dftly-spark-perfbench",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: a heap that sizes itself grows with the
        # collector's pause times, so resident memory spread widely across
        # identical runs; what the heap holds is measured by
        # retained_heap_mb instead
        "spark.driver.extraJavaOptions": f"-Xms{MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(conf: dict[str, str]) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def import_contract():
    """Import the contract from scratch, as a fresh process would."""
    for name in [m for m in sys.modules if m == "__spark_entry__" or m.startswith("dftly_spark")]:
        del sys.modules[name]
    return importlib.import_module("__spark_entry__")


def _descendants() -> list[int]:
    """Pids of every live process started, directly or not, by this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":  # an exited child not yet reaped is not running
            children.setdefault(int(fields[1]), []).append(int(d))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session and the JVM this process launched, and wait until
    the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when this pipe closes
    try:
        gateway.proc.wait(timeout)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while _descendants():
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after the JVM exited: {_descendants()}")
        time.sleep(0.1)


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the session keeps
    (cached and persisted frames, broadcasts, plans) once the queries ran.

    Python's collection goes first, so JVM objects that only dead Python
    proxies still pointed to are released; the JVM collects twice, so the
    broadcasts and shuffles Spark's cleaner drops after the first are gone."""
    jvm = spark.sparkContext._jvm
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1024 * 1024)


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree_kb(self) -> int:
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page_kb
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())


@dataclass
class Execution:
    case: str  # ``<query>@<dataset>``
    rep: int  # 0 = the case's first execution in the session
    build_s: float
    action_s: float
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)  # traced runs only
    counts: dict[str, int] = field(default_factory=dict)
    qid: str = ""
    frame: object = field(default=None, repr=False)  # the built DataFrame, until kept

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


def _execute(query_fn, spark, sf_dir: str, case: str, rep: int,
             tracer: tracing.Tracer | None) -> Execution:
    qid = f"{case}#{rep}"
    if tracer is None:
        t0 = time.perf_counter()
        try:
            df = query_fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            return Execution(case, rep, time.perf_counter() - t0, 0.0, f"{type(e).__name__}: {e}")
        t2 = time.perf_counter()
        return Execution(case, rep, t1 - t0, t2 - t1, qid=qid, frame=df)
    with tracer.query(qid) as start_action:
        t0 = time.perf_counter()
        try:
            tracer.enter("contract")
            try:
                df = query_fn(spark, sf_dir)
            finally:
                tracer.exit()
            t1 = time.perf_counter()
            start_action()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            return Execution(case, rep, time.perf_counter() - t0, 0.0, f"{type(e).__name__}: {e}", qid=qid)
        t2 = time.perf_counter()
        layers = {layer: tracer.self_s.get(layer, 0.0) for layer in tracing.LAYERS}
        layers["action"] = t2 - t1
        return Execution(case, rep, t1 - t0, t2 - t1, layers=layers,
                         counts=dict(tracer.counts), qid=qid)


@dataclass
class Window:
    plain: list[Execution] = field(default_factory=list)
    traced: list[Execution] = field(default_factory=list)
    #: each case's last built untraced frame, for the correctness check:
    #: the program's own output, collected without building the plan again
    frames: dict[str, object] = field(default_factory=dict)

    def add(self, e: Execution, traced: bool) -> None:
        if e.frame is not None and not traced:
            self.frames[e.case] = e.frame
        e.frame = None  # no older frame (nor its checkpoints) is kept alive
        (self.traced if traced else self.plain).append(e)


def timed_window(entry, spark, wl: Workload, dirs: dict[str, str], rng: random.Random,
                 seconds: float, tracer: tracing.Tracer | None = None) -> Window:
    """Passes over the workload until ``seconds`` have run and every case
    has ``MIN_WARM`` warm executions; the first pass is the cold one.

    With a tracer, each case of a warm pass runs twice back to back, once
    traced and once not, the traced one first on odd passes, so the traced
    and untraced executions differ only by the tracing."""
    query_fns = entry.queries()
    win = Window()
    deadline = time.perf_counter() + seconds
    rep = 0
    while True:
        # the cold pass keeps the workload's order, so first_rep_s does not
        # depend on which case happens to start the Python workers
        for case in rng.sample(wl.cases, len(wl.cases)) if rep else wl.cases:
            if rep > MIN_WARM and time.perf_counter() >= deadline:
                return win
            query, dataset = split_case(case)
            args = (query_fns[query], spark, dirs[dataset], case, rep)
            if tracer is None or rep == 0:
                win.add(_execute(*args, None), traced=False)
                continue
            for with_spans in ((True, False) if rep % 2 else (False, True)):
                if not with_spans:
                    win.add(_execute(*args, None), traced=False)
                    continue
                tracer.install()
                try:
                    win.add(_execute(*args, tracer), traced=True)
                finally:
                    tracer.uninstall()
        rep += 1
        if rep > MIN_WARM and time.perf_counter() >= deadline:
            return win


def _warm(execs: list[Execution], case: str) -> list[Execution]:
    return [e for e in execs if e.case == case and e.rep > 0 and e.error is None]


def suite(execs: list[Execution], cases) -> dict[str, float]:
    """``first_rep_s`` of one window, and ``suite_s`` and ``query_geomean_s``
    over ``cases``, each of which must have a warm execution that succeeded."""
    medians = [statistics.median(e.latency_s for e in _warm(execs, c)) for c in cases]
    out = {"first_rep_s": sum(e.latency_s for e in execs if e.rep == 0)}
    if medians:
        out["suite_s"] = sum(medians)
        out["query_geomean_s"] = math.exp(statistics.fmean(math.log(m) for m in medians))
    return out


_REPARTITION = re.compile(r"RepartitionByExpression \[([^\]]*)\], (\d+)")


def repartitions(df) -> list[str]:
    """The hash repartitions in a built frame's analyzed plan, as
    ``<keys> x<partitions>``: shows, for instance, whether the contract's
    scan fan-out fired for the case."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return [f"{re.sub(r'#[0-9]+L?', '', keys)} x{n}" for keys, n in _REPARTITION.findall(plan)]


def forensic_rows(execs: list[Execution], cases, verdicts: dict[str, str],
                  plans: dict[str, list[str]]) -> list[dict]:
    """Per case: min, median, raw reps, the build/action split and the
    repartitions in its plan."""
    rows = []
    for case in cases:
        mine = [e for e in execs if e.case == case]
        warm = _warm(execs, case)
        rows.append({
            "case": case,
            "first_s": next((e.latency_s for e in mine if e.rep == 0), None),
            "min_s": min((e.latency_s for e in warm), default=None),
            "median_s": statistics.median([e.latency_s for e in warm]) if warm else None,
            "reps": [[round(e.build_s, 4), round(e.action_s, 4)] for e in mine],
            "build_median_s": statistics.median([e.build_s for e in warm]) if warm else None,
            "action_median_s": statistics.median([e.action_s for e in warm]) if warm else None,
            "errors": sorted({e.error for e in mine if e.error}),
            "oracle": verdicts.get(case, "not checked"),
            "repartitions": plans.get(case),
        })
    return rows


def representative(execs: list[Execution], case: str) -> Execution | None:
    """The warm execution with the (lower) median latency: one real
    execution, so its layer times add up to its latency exactly."""
    warm = sorted(_warm(execs, case), key=lambda e: e.latency_s)
    return warm[(len(warm) - 1) // 2] if warm else None


@dataclass
class RunResult:
    setups: list[float]
    execs: list[Execution]
    verdicts: dict[str, str]
    peak_rss_mb: float
    retained_heap_mb: float = 0.0
    traced: list[Execution] = field(default_factory=list)
    plans: dict[str, list[str]] = field(default_factory=dict)
    app: str = ""  # the Spark application id: the event log's file name
    groups: dict[str, eventlog.GroupStats] = field(default_factory=dict)

    def to_json(self) -> dict:
        d = dataclasses.asdict(self)
        for e in d["execs"] + d["traced"]:
            del e["frame"]
        del d["groups"]
        return d

    @classmethod
    def from_json(cls, d: dict) -> "RunResult":
        d = dict(d)
        d["execs"] = [Execution(**e) for e in d["execs"]]
        d["traced"] = [Execution(**e) for e in d["traced"]]
        return cls(**d)


def event_log_conf(work: str) -> dict[str, str]:
    evdir = os.path.abspath(os.path.join(work, "eventlog"))
    os.makedirs(evdir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def run(wl: Workload, t0: float, seed: int | None, seconds: float | None, trace: bool,
        checker) -> RunResult:
    """Set-up of this process, timed from ``t0`` (wall clock); then, unless
    ``seed`` is None, the timed window and the correctness check."""
    conf = session_conf(WORK, len(os.sched_getaffinity(0)))
    if trace:
        conf.update(event_log_conf(WORK))
    dirs = {d: dataset_dir(d) for d in wl.datasets()}
    with RssSampler() as rss:
        marks = [time.time()]
        spark = start_session(conf)
        marks.append(time.time())
        entry = import_contract()
        marks.append(time.time())
        warmup = entry.queries()[WARMUP](spark, dirs[wl.datasets()[0]])
        warmup.write.format("noop").mode("overwrite").save()
        marks.append(time.time())
        setup = marks[-1] - t0
        _log("set-up: interpreter and imports {:.1f} s, session {:.1f} s, contract {:.1f} s, "
             "warm-up {:.1f} s".format(*(b - a for a, b in zip([t0, *marks], marks))))
        if seed is None:
            stop_spark()
            return RunResult([setup], [], {}, rss.peak_kb / 1024)
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        t_window = time.perf_counter()
        steal0 = _steal_ticks()
        win = timed_window(entry, spark, wl, dirs, random.Random(seed), seconds, tracer)
        steal1 = _steal_ticks()
    t_check = time.perf_counter()
    retained = retained_heap_mb(spark) if trace else 0.0  # a per-layer metric
    plans = {case: repartitions(df) for case, df in win.frames.items()}
    verdicts = checker(spark, entry, win.frames)
    win.frames.clear()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    _log(f"set-up {setup:.1f} s, window {t_check - t_window:.1f} s "
         f"(cpu steal {steal:.1%}), check {time.perf_counter() - t_check:.1f} s")
    app = spark.sparkContext.applicationId
    stop_spark()
    return RunResult([setup], win.plain, verdicts, rss.peak_kb / 1024, retained, win.traced,
                     plans, app)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not args.setup_only and (args.seed is None or args.seconds is None):
        ap.error("--seed and --seconds are needed unless --setup-only")
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    wl = WORKLOADS[args.workload]

    def check(spark, entry, frames):
        import oracle  # after the set-up: DuckDB is the benchmark's, not the program's

        verdicts = {}
        for dataset in wl.datasets():
            cases = {c: split_case(c)[0] for c in wl.cases if split_case(c)[1] == dataset}
            o = oracle.Oracle(ROOT, dataset_dir(dataset), os.path.join(WORK, "tmp"))
            verdicts.update(o.check(spark, entry, cases, frames))
        return verdicts

    res = run(wl, args.t0, None if args.setup_only else args.seed, args.seconds,
              bool(args.trace), check)
    with open(args.out, "w") as f:
        json.dump(res.to_json(), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

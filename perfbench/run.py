#!/usr/bin/env python3
"""dftly-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload expr_sf0.1 --seed 1 --seconds 16 --trace 0

Run from the root of a dftly-spark checkout.  The first run prepares the
inputs of every workload under ``perfbench/_work/`` (generated tables, the
4x data from ``scripts/gen_testdata.py``, cached oracle digests); later runs
reuse them.  ``--seed`` fixes the query order of every pass.  This process
prepares the inputs and assembles the metrics; the set-ups and the timed
window run in fresh processes (``runner.py``), so each set-up is cold.

Standard output: the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``) as a table, one JSON row per query (``forensic``), and
as the last line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.  Exit code 2 when the checkout holds no dftly-spark to
measure.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import datagen
import eventlog
import oracle
import runner
import spans
from workloads import DATA_SEED, DATASETS, HERE, ROOT, WORK, WORKLOADS, dataset_dir, split_case

REQUIRED = ("dftly_spark", "__spark_entry__.py", "scripts/gen_testdata.py", "scripts/driver_gate.py")


def _ensure_dataset(name: str) -> str:
    """Generate a dataset once; the directory appears only when complete."""
    out = dataset_dir(name)
    if not os.path.isdir(out):
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if name == "sf0.1":
            datagen.write(tmp, 0.1, DATA_SEED)
        elif name == "sf0.4":
            spec = importlib.util.spec_from_file_location(
                "gen_testdata", os.path.join(ROOT, "scripts", "gen_testdata.py"))
            gen = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(gen)
            gen.SRC = _ensure_dataset("sf0.1")
            argv, sys.argv = sys.argv, ["gen_testdata.py", "4", tmp]
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    gen.main()
            finally:
                sys.argv = argv
        os.rename(tmp, out)
    for table, rows in DATASETS[name].items():
        got = pq.read_metadata(os.path.join(out, f"{table}.parquet")).num_rows
        if got != rows:
            raise RuntimeError(f"{name}/{table}: {got} rows, expected {rows}")
    return out


def prepare() -> None:
    """Inputs and oracle digests of every workload (not timed)."""
    queries: dict[str, set[str]] = {}
    for wl in WORKLOADS.values():
        for case in wl.cases:
            query, dataset = split_case(case)
            queries.setdefault(dataset, set()).add(query)
    entry = runner.import_contract()
    for dataset, qs in queries.items():
        oracle.Oracle(ROOT, _ensure_dataset(dataset), os.path.join(WORK, "tmp")).expected(
            entry, sorted(qs))


def measure(wl, seed: int, seconds: float, trace: bool) -> runner.RunResult:
    """``runner.SETUPS`` set-ups (one in a traced run, which does not report
    ``setup_s``), each in a fresh process; the last of them goes on to the
    timed window and the correctness check."""
    evdir = os.path.join(WORK, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    out = os.path.join(WORK, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "runner.py"), "--workload", wl.name,
           "--trace", str(int(trace)), "--out", out]
    setups = []
    n = 1 if trace else runner.SETUPS
    for i in range(n):
        last = i == n - 1
        extra = ["--seed", str(seed), "--seconds", repr(seconds)] if last else ["--setup-only"]
        # the process's output is diagnostics; this process's stdout ends with the result
        t0 = time.time()
        subprocess.run([*cmd, *extra, "--t0", repr(t0)], stdout=sys.stderr, check=True)
        with open(out) as f:
            res = runner.RunResult.from_json(json.load(f))
        os.remove(out)
        print(f"perfbench: process {i + 1}/{n}: set-up {res.setups[0]:.1f} s, "
              f"wall {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
        setups += res.setups
    res.setups = setups
    if trace:
        res.groups = eventlog.reduce_log(os.path.join(evdir, res.app))
        shutil.rmtree(evdir)
    return res


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(res, wl) -> dict[str, dict]:
    """The end-to-end metrics.  ``suite_s`` and ``query_geomean_s`` leave
    out cases with no warm execution that succeeded (and are missing when
    no case has one); the failures count in ``failed_frac``."""
    ok = [c for c in wl.cases if runner._warm(res.execs, c)]
    s = runner.suite(res.execs, ok)
    attempted, failed = _failures(res.execs, res.verdicts)
    m = {"setup_s": _metric(statistics.median(res.setups), "s")}
    for name in ("suite_s", "first_rep_s", "query_geomean_s"):
        if name in s:
            m[name] = _metric(s[name], "s")
    m["failed_frac"] = _metric(failed / attempted, "ratio")
    m["peak_rss_mb"] = _metric(res.peak_rss_mb, "MB")
    return m


def _failures(execs, verdicts) -> tuple[int, int]:
    """Timed executions, and those that raised or whose case's output
    mismatched its oracle (the output is deterministic, so a mismatch in the
    check makes every execution of that case a failure)."""
    bad = {q for q, v in verdicts.items() if v != "ok"}
    return len(execs), sum(1 for e in execs if e.error or e.case in bad)


def per_layer(res, wl) -> tuple[dict[str, dict], list[dict]]:
    """Per-layer metrics of the traced executions, from each case's
    representative execution, plus one traced row per case.  The tracing
    overhead compares them with the untraced executions of the same passes."""
    by_qid: dict[str, list[tuple[str, str, eventlog.GroupStats]]] = {}
    for g, stats in res.groups.items():
        parsed = spans.parse_group(g)
        if parsed:
            by_qid.setdefault(parsed[0], []).append((parsed[1], parsed[2], stats))

    def stats_of(qids, phase=None, layer=None):
        return [s for q in qids for ph, ly, s in by_qid.get(q, [])
                if (phase is None or ph == phase) and (layer is None or ly == layer)]

    reps = [r for r in (runner.representative(res.traced, c) for c in wl.cases) if r]
    qids = [r.qid for r in reps]
    lay = {layer: sum(r.layers[layer] for r in reps) for layer in spans.LAYERS}
    cnt = {c: sum(r.counts[c] for r in reps) for c in spans.COUNTERS}
    jobs = {layer: sum(s.jobs for s in stats_of(qids, "build", layer))
            for layer in ("contract", "io", "ops", "pipeline")}
    unattributed = sum(r.latency_s for r in reps) - sum(lay.values())
    both = [r.case for r in reps if runner._warm(res.execs, r.case)]
    untraced = runner.suite(res.execs, both).get("suite_s")
    traced = runner.suite(res.traced, both).get("suite_s")
    attempted, failed = _failures(res.execs + res.traced, res.verdicts)
    m = {
        "strform.parse_s": _metric(lay["strform"], "s"),
        "strform.calls": _metric(cnt["strform.calls"], "count"),
        "parser.to_nodes_s": _metric(lay["parser"], "s"),
        "parser.nodes": _metric(cnt["parser.nodes"], "count"),
        "nodes.lower_s": _metric(lay["nodes"], "s"),
        "nodes.columns": _metric(cnt["nodes.columns"], "count"),
        "pipeline.run_s": _metric(lay["pipeline"], "s"),
        "pipeline.steps": _metric(cnt["pipeline.steps"], "count"),
        "pipeline.build_jobs": _metric(jobs["pipeline"], "count"),
        "io.reads": _metric(cnt["io.reads"], "count"),
        "io.read_s": _metric(lay["io"], "s"),
        "io.read_jobs": _metric(jobs["io"], "count"),
        "contract.build_s": _metric(sum(v for k, v in lay.items() if k != "action"), "s"),
        "contract.build_self_s": _metric(lay["contract"], "s"),
        "contract.build_jobs": _metric(jobs["contract"], "count"),
        "ops.calls": _metric(cnt["ops.calls"], "count"),
        "ops.build_s": _metric(lay["ops"], "s"),
        "ops.build_jobs": _metric(jobs["ops"], "count"),
        "action.run_s": _metric(lay["action"], "s"),
    }
    for phase in ("build", "action"):
        summary = eventlog.summarize(stats_of(qids, phase))
        for name, unit in eventlog.FIELDS:
            m[f"spark.{phase}.{name}"] = _metric(summary[name], unit)
    m["retained_heap_mb"] = _metric(res.retained_heap_mb, "MB")
    m["unattributed_s"] = _metric(unattributed, "s")
    if traced and untraced:
        m["traced_suite_s"] = _metric(traced, "s")
        m["trace_overhead"] = _metric(traced / untraced, "ratio")
    m["failed_frac"] = _metric(failed / attempted, "ratio")

    rows = []
    for r in reps:
        row = {
            "case": r.case,
            "qid": r.qid,
            "latency_s": r.latency_s,
            "layers_s": r.layers,
            "unattributed_s": r.latency_s - sum(r.layers.values()),
            "counts": r.counts,
        }
        for phase in ("build", "action"):
            row[f"spark_{phase}"] = eventlog.summarize(stats_of([r.qid], phase))
        row["build_jobs_by_layer"] = {
            layer: sum(s.jobs for s in stats_of([r.qid], "build", layer))
            for layer in ("contract", "io", "ops", "pipeline")}
        rows.append(row)
    return m, rows


def _print_table(title: str, metrics: dict[str, dict]) -> None:
    print(title)
    for name, m in metrics.items():
        print(f"  {name:<28} {m['value']:>14.6g} {m['unit']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: no dftly-spark checkout at {ROOT} (missing {missing})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # Everything Spark, DuckDB and Python write goes under the work directory.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)

    wl = WORKLOADS[args.workload]
    t0 = time.time()
    prepare()
    print(f"perfbench: inputs ready in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    res = measure(wl, args.seed, args.seconds, bool(args.trace))

    e2e = end_to_end(res, wl)
    _print_table(f"{wl.name}: end to end (seed {args.seed}, untraced)", e2e)
    print(json.dumps({"setup_reps_s": res.setups}))
    for row in runner.forensic_rows(res.execs, wl.cases, res.verdicts, res.plans):
        print(json.dumps({"forensic": row}))
    if args.trace:
        layers, rows = per_layer(res, wl)
        _print_table(f"{wl.name}: per layer (traced)", layers)
        for row in rows:
            print(json.dumps({"traced": row}))
        metrics = layers
        attempted, failed = _failures(res.execs + res.traced, res.verdicts)
    else:
        metrics = {k: v for k, v in e2e.items() if k != "failed_frac"}
        attempted, failed = _failures(res.execs, res.verdicts)
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            raise RuntimeError(f"non-finite metric in {metrics}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

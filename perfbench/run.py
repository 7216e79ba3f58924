#!/usr/bin/env python3
"""Warehouse benchmark: one closed-loop client, one process, one workload.

    python3 perfbench/run.py --workload olap_interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

A run:

1. generates its inputs from ``--seed`` under ``.perfbench_work/`` in the
   checkout (star-schema tables, documents and embeddings at TPC-H scale
   factor 0.01; bronze CRM/ERP sources at the reference dataset's size);
2. sets the Spark session up ``SETUP_CYCLES`` times (the first launch
   also starts the JVM; later ones restart the SparkContext inside it),
   each time forking the Python worker fleet; then builds the workload's
   session artifacts and runs two untimed warm-up passes: the first
   collects every output for the output checks (compared against
   DuckDB), the second runs the timed passes' ``noop`` writes;
3. times passes over the workload's operations, each in a seeded order:
   as many as fit in ``--seconds`` at the workload's nominal pass length
   (a fixed count per workload, so every run times the same work);
4. prints every metric with its unit, the output-check verdict and the
   run record, and as its last line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: median set-up cycle (session start + Python-worker
  warm-up) + the workload's artifact builds + the two warm-up passes;
- ``pass_s``: wall time of a typical pass: the sum over the workload's
  operations of each one's median time over the timed passes (with two
  or three passes a run, the median of whole-pass walls lets a single
  stalled operation move the figure);
- ``op_p50_s`` / ``op_p90_s``: median and 90th percentile of the
  per-operation wall times over all timed passes;
- ``settled_rss_mb``: resident memory of the driver JVM plus its Python
  workers after the timed passes, a full GC and the heap's shrink: what
  the session holds on to. (The peak, sampled from ``/proc`` every 250 ms, is the
  per-layer ``process.peak_rss_mb``; under the program's 48 GB default
  heap it swings by tens of percent between identical runs.)

A traced run (``--trace 1``) times half its window untraced, then
restarts the session with Spark's event log on, tags every operation
with ``setJobGroup(op_name)``, times the other half, and derives the
per-layer metrics from its own spans plus the event log
(``perfbench/eventlog.py``). Its spans (workload > pass > op >
builder/action > job > stage) and the full record of every run are
written to ``.perfbench_out/``. The program itself is not instrumented
and its session defaults are not changed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_CYCLES = 3
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "settled_rss_mb": "MB"}
# (datagen sf, documents, embeddings) and bronze (customers, products, sales lines)
SCALES = {
    "default": ((0.01, 500, 500), (18_480, 300, 60_400)),
    "tiny": ((0.001, 120, 120), (400, 30, 1_500)),
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   help="olap_interactive, curation_batch, ingest_write, a comma list, or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=11.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="default",
                   help="input size; 'tiny' is for the benchmark's own smoke tests")
    return p.parse_args(argv)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Runner:
    """One workload run inside one process."""

    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench import workloads

        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.spark = None
        self.ctx: Any = None
        self.info: dict[str, Any] = {"setup": {}, "artifacts": {}}
        self.known: dict | None = None
        self.pass_no = 1  # pass 0's TxnTable root is the one Ctx starts with

    # ---------------------------------------------------------- inputs

    def generate_inputs(self) -> None:
        from perfbench import bronze, datagen

        (sf, n_docs, n_vecs), (n_cust, n_keys, n_sales) = SCALES[self.args.scale]
        self.sf_dir = os.path.join(self.work, "tables")
        self.warehouse = os.path.join(self.work, "warehouse")
        t0 = time.perf_counter()
        self.info["table_rows"] = datagen.generate(self.sf_dir, self.args.seed, sf, n_docs, n_vecs)
        if self.wl.name == "ingest_write":
            self.known = bronze.generate(self.warehouse, self.args.seed, n_cust, n_keys, n_sales)
        self.info["inputs_s"] = time.perf_counter() - t0

    # ----------------------------------------------------------- set-up

    def start(self, event_log_dir: str | None = None) -> tuple[float, float]:
        from perfbench import harness, workloads

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = harness.start_session(f"perfbench-{self.wl.name}", event_log_dir)
        t1 = time.perf_counter()
        harness.warm_python_workers(self.spark)
        t2 = time.perf_counter()
        if self.ctx is None:
            self.ctx = workloads.Ctx(self.spark, self.sf_dir, self.warehouse,
                                     os.path.join(self.work, "txn", "p0"), self.args.seed,
                                     self.info["table_rows"]["orders"])
        self.ctx.spark = self.spark
        self.ctx.state.clear()
        return t1 - t0, t2 - t1

    def build_artifacts(self) -> dict[str, float]:
        from perfbench.workloads import ARTIFACTS

        built = {}
        for name in self.wl.artifacts:
            t0 = time.perf_counter()
            ARTIFACTS[name](self.spark, self.sf_dir)
            built[name] = time.perf_counter() - t0
        return built

    def setup(self) -> float:
        cycles, starts, warms = [], [], []
        for _ in range(SETUP_CYCLES):
            s, w = self.start()
            starts.append(s)
            warms.append(w)
            cycles.append(s + w)
        self.info["setup"] = {"cycles_s": cycles, "start_s": starts, "py_warmup_s": warms}
        self.info["artifacts"] = self.build_artifacts()
        artifacts_s = sum(self.info["artifacts"].values())
        t0 = time.perf_counter()
        warm = self.run_pass(capture=True, order=list(self.wl.ops))
        self.outputs = {r["op"]: r["out"] for r in warm}
        # A second, noop pass: right after the first, ops still run 20-30%
        # slower while the JIT compiles, and where the timed passes would
        # fall on that curve varies from run to run.
        self.run_pass()
        warm_s = time.perf_counter() - t0
        self.info["setup"].update(artifacts_s=artifacts_s, warmup_passes_s=warm_s)
        return _median(cycles) + artifacts_s + warm_s

    # ----------------------------------------------------------- passes

    def run_pass(self, capture: bool = False, order: list | None = None,
                 trace: bool = False) -> list[dict]:
        if order is None:
            order = list(self.wl.ops)
            if self.wl.shuffle:
                self.rng.shuffle(order)
        previous = self.ctx.txn_root
        self.ctx.txn_root = os.path.join(self.work, "txn", f"p{self.pass_no}")
        self.pass_no += 1
        sc = self.spark.sparkContext
        recs = []
        for op in order:
            self.ctx.spans = []
            if trace:
                sc.setJobGroup(op.name, op.name)
            out = None
            t0w, t0 = time.time(), time.perf_counter()
            try:
                out = op.run(self.ctx, capture)
            except Exception as e:  # noqa: BLE001 - an op that raises counts as failed
                out = e
            t1 = time.perf_counter()
            recs.append({"op": op.name, "t0": t0w, "t1": t0w + (t1 - t0),
                         "wall": t1 - t0, "sub": self.ctx.spans, "out": out,
                         "error": repr(out)[:300] if isinstance(out, BaseException) else None})
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        shutil.rmtree(previous, ignore_errors=True)
        return recs

    def timed_window(self, seconds: float, trace: bool = False) -> list[list[dict]]:
        n = max(1, round(seconds / self.wl.nominal_pass_s))
        return [self.run_pass(trace=trace) for _ in range(n)]


def _e2e(setup_s: float, passes: list[list[dict]], settled_rss: int) -> dict[str, float]:
    walls = [r["wall"] for p in passes for r in p]
    return {
        "setup_s": setup_s,
        "pass_s": sum(v["median_s"] for v in _per_op(passes).values()),
        "op_p50_s": _median(walls),
        "op_p90_s": _p90(walls),
        "settled_rss_mb": settled_rss / 1e6,
    }


def run_workload(args: argparse.Namespace) -> dict:
    from perfbench import checks, harness, layers

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep the program's scratch dirs, Spark's local dirs and the JVM's
    # temp files inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    runner = Runner(args, work)
    try:
        runner.generate_inputs()
        steal0 = harness.cpu_steal_s()
        with harness.RssSampler() as rss:
            setup_s = runner.setup()
            t0 = time.perf_counter()
            check_results = checks.run_checks(args.workload, runner.outputs, runner.ctx,
                                              runner.known)
            runner.info["checks_s"] = time.perf_counter() - t0
            seconds = args.seconds / 2 if args.trace else args.seconds
            passes = runner.timed_window(seconds)
        settled = harness.settled_rss(runner.spark)
        record = harness.run_record(
            runner.spark, {"tables": runner.sf_dir, "bronze": os.path.join(runner.warehouse, "bronze")},
            harness.cpu_steal_s() - steal0)
        record["dataset"] = {"generator": "perfbench.datagen + perfbench.bronze",
                             "seed": args.seed, "scale": args.scale,
                             "rows": runner.info["table_rows"],
                             "bronze_rows": (runner.known or {}).get("bronze_rows")}
        e2e = _e2e(setup_s, passes, settled.peak_total)
        per_layer = None
        traced_passes: list = []
        if args.trace:
            ev_dir = os.path.join(work, "eventlog")
            os.makedirs(ev_dir)
            runner.start(event_log_dir=ev_dir)
            runner.build_artifacts()
            runner.run_pass()
            traced_passes = runner.timed_window(seconds, trace=True)
            runner.spark.stop()
            runner.spark = None
            logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
            per_layer, spans = layers.per_layer(runner, passes, traced_passes, logs[0], rss)
            layers.write_spans(os.path.join(ROOT, ".perfbench_out"),
                               f"{args.workload}-seed{args.seed}", spans)
    finally:
        t0 = time.perf_counter()
        harness.shutdown_jvm(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        runner.info["shutdown_s"] = time.perf_counter() - t0

    timed = [r for p in passes + traced_passes for r in p]
    op_errors = [r for r in timed if r["error"]]
    failed_checks = {k: v for k, v in check_results.items() if v}
    attempted = len(timed) + len(check_results)
    failed = len(op_errors) + len(failed_checks)
    metrics = per_layer if args.trace else {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "correct": not failed, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "op_samples": sum(len(p) for p in passes),
        "pass_walls_s": [p[-1]["t1"] - p[0]["t0"] for p in passes],
        "op_walls_s": [[(r["op"], r["wall"]) for r in p] for p in passes],
        "passes": len(passes),
        "checks": {k: v or "ok" for k, v in check_results.items()},
        "op_errors": [{"op": r["op"], "error": r["error"]} for r in op_errors[:20]],
        "per_op": _per_op(passes),
        "setup": runner.info["setup"], "artifacts_s": runner.info["artifacts"],
        "inputs_s": runner.info.get("inputs_s"), "checks_s": runner.info.get("checks_s"),
        "shutdown_s": runner.info["shutdown_s"], "table_rows": runner.info.get("table_rows"),
        "record": record, "peak_rss_mb": rss.peak_total / 1e6,
        "settled_rss_mb": {"jvm": settled.peak_jvm / 1e6, "python": settled.peak_python / 1e6},
    }


def _per_op(passes: list[list[dict]]) -> dict[str, dict[str, float]]:
    by: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            by.setdefault(r["op"], []).append(r["wall"])
    return {k: {"n": len(v), "median_s": _median(v)} for k, v in sorted(by.items())}


def print_result(res: dict) -> None:
    for name, m in res["metrics"].items():
        print(f"{name:<36} {m['value']:>14.4f} {m['unit']}")
    print(f"{'failed_frac':<36} {res['failed_frac']:>14.4f} frac "
          f"({res['failed']} of {res['attempted']} ops and checks)")
    bad = {k: v for k, v in res["checks"].items() if v != "ok"}
    print(f"output checks: {len(res['checks']) - len(bad)}/{len(res['checks'])} passed"
          + (f"; failing: {json.dumps(bad)}" if bad else ""))
    print(f"op samples: {res['op_samples']} in {res['passes']} passes")
    print("run record: " + json.dumps(res["record"], sort_keys=True))
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    name = f"{res['workload']}-seed{res['seed']}-trace{res['trace']}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


def run_each(names: list[str], args: argparse.Namespace) -> int:
    """Run every named workload in its own process and tabulate them."""
    rows, code = {}, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(f"== {name}\n{proc.stdout}")
        code = code or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if proc.returncode == 0 and lines:
            rows[name] = json.loads(lines[-1])
    metric_names = sorted({m for r in rows.values() for m in r["metrics"]})
    print(f"\n{'metric':<36}" + "".join(f"{n:>20}" for n in rows))
    for m in metric_names:
        unit = next(r["metrics"][m]["unit"] for r in rows.values() if m in r["metrics"])
        print(f"{m + ' [' + unit + ']':<36}" + "".join(
            f"{r['metrics'][m]['value']:>20.4f}" if m in r["metrics"] else f"{'-':>20}"
            for r in rows.values()))
    print(f"{'failed_frac':<36}" + "".join(
        f"{r['failed'] / r['attempted']:>20.4f}" for r in rows.values()))
    print(f"{'correct':<36}" + "".join(f"{str(r['correct']):>20}" for r in rows.values()))
    return code or (0 if len(rows) == len(names) and all(r["correct"] for r in rows.values()) else 1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    try:
        import sql_data_warehouse_spark  # noqa: F401
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    names = list(workloads.WORKLOADS) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in workloads.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload(s) {unknown}", file=sys.stderr)
        return 2
    if len(names) > 1:
        return run_each(names, args)
    res = run_workload(args)
    print_result(res)
    return 0


if __name__ == "__main__":
    sys.exit(main())

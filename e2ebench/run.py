#!/usr/bin/env python3
"""End-to-end benchmark of tsatool_app_spark.

    python3 e2ebench/run.py --workload sheet_report --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, computes the DuckDB
reference once (untimed), builds the Spark session (``setup_s``), then runs
operations back to back (a closed loop, one client) on
``local[<cores>]``: one cold operation (``first_op_s``), the workload's
unmeasured warm-up operations, and then measured ones until ``--seconds``
have passed (``op_s`` is their median).  Every
operation's output is checked against the reference; the run exits 1 if
any check fails.  The last stdout line is the result JSON; a detail record
(seed, input properties, samples) is printed just before it and written to
``.e2ebench_out/``.

``--trace 1`` is the separate traced run: Spark's event log is written
uncompressed into the run's work directory, the package's public entry
points are wrapped in spans, and the result carries the per-layer metrics.
``--selftest`` feeds one deliberately altered output through the checks and
exits 0 only if it is counted as failed.  ``--anchor`` prints the
repository's machine-speed calibration anchor.  See e2ebench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sheet_report", "corpus_mix")
E2E = (("op_s", "s"), ("first_op_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"))
REPORT_ARGS = ["--xlsx", "--pptx", "--png"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--anchor", action="store_true")
    a = p.parse_args(argv)
    if not a.anchor and not a.workload:
        p.error("--workload is required")
    return a


def prepare_env(work: str) -> int:
    """Pin the engine to this machine's cores, keep its scratch inside the
    work directory, and make the package importable for Python workers."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["TZ"] = "UTC"  # collected timestamps are rendered in local time
    time.tzset()
    sys.path[:0] = [ROOT, HERE]
    return cores


def reset_hwm() -> None:
    """Reset this process's VmHWM to its current RSS, so the peak reported
    is the program's, not that of input generation and the reference."""
    import gc

    gc.collect()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# Workloads: inputs + reference, and one operation each
# ---------------------------------------------------------------------------


def draw_sheets(store, make, tries=20):
    """Draw sheets until every condition's reference has valid, not-valid
    and no-data time; the draws continue one seeded stream, so a seed
    still fixes the inputs."""
    from reference import CheckFailed, SheetReference

    for draw in range(1, tries + 1):
        sheets = make()
        ref = SheetReference(os.path.join(store.out_dir, "obs.parquet"), sheets)
        try:
            ref.check_nontrivial()
            return sheets, ref, draw
        except CheckFailed:
            if draw == tries:
                raise


class SheetReport:
    """The CLI a user runs: workbook -> CSV, XLSX, PPTX, timeline JSON/PNG."""

    #: warm operations run before the measured ones
    warmup_ops = 0
    #: warm operations measured even when one outlasts --seconds
    warm_ops = 1

    def __init__(self, work, rng):
        import gen

        self.store_dir = os.path.join(work, "store")
        store = gen.make_store(self.store_dir, rng, n_stations=4, days=5)
        self.sheets, self.ref, draws = draw_sheets(store, lambda: [
            gen.make_sheet(rng, store, "diamond", "north", 1, diamond=True, first_shape=2),
        ])
        self.wb = os.path.join(work, "workbook")
        os.makedirs(self.wb)
        for s in self.sheets:
            gen.write_sheet_csv(s, os.path.join(self.wb, f"{s.name}.csv"))
        self.n_conditions = sum(len(s.conds) for s in self.sheets)
        self.props = {**store.props(), **gen.sheet_props(self.sheets), "sheet_draws": draws}
        self.work = work

    def trace_points(self, tracer):
        from tsatool_app_spark import cli, reports
        from tsatool_app_spark.runner import CondCollection

        tracer.wrap(cli, "read_csv_workbook", "workbook")
        tracer.wrap(CondCollection, "run", "runner")
        # the CSV and XLSX sinks collect each condition's summary through
        # summary_rows: that is where operators.summary and combine execute
        for fn, layer in (
            ("summary_rows", "summary"),
            ("write_summary_csv", "reports.csv"),
            ("write_summary_excel", "reports.xlsx"),
            ("write_pptx", "reports.pptx"),
            ("write_timeline_json", "reports.timeline"),
            ("write_timeline_png", "reports.png"),
        ):
            tracer.wrap(reports, fn, layer)

    def run(self, spark, tracer, i):
        from tsatool_app_spark import cli

        out = os.path.join(self.work, f"results-{i}")
        argv = ["-i", self.wb, "-n", "bench", "-r", out,
                "--obs-parquet", os.path.join(self.store_dir, "obs.parquet"),
                "--sensors-csv", os.path.join(self.store_dir, "sensors.csv"), *REPORT_ARGS]
        with contextlib.redirect_stdout(io.StringIO()), tracer.op(i):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")
        return out

    def check(self, out):
        try:
            self.ref.check_report_dir(out, "bench")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def alter(self, out):
        import csv

        path = os.path.join(out, f"bench_{self.sheets[0].name}.csv")
        with open(path, newline="") as f:
            rows = list(csv.DictReader(f))
        rows[0]["rows"] = str(int(rows[0]["rows"]) + 1)
        with open(path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)
        return out


class CorpusMix:
    """The registry's pretraining_mix pipeline over a generated corpus."""

    #: the JIT is still speeding these operations up over the first warm
    #: ones, and one measured operation spread 0.21-0.36 over ten seeds
    warmup_ops = 1
    warm_ops = 2

    def __init__(self, work, rng):
        import gen
        from reference import CorpusReference

        self.docs_dir = os.path.join(work, "docs")
        corpus = gen.make_corpus(os.path.join(self.docs_dir, "documents.parquet"), rng, 1500)
        self.ref = CorpusReference(self.docs_dir, corpus)
        self.ref.check_nontrivial()
        self.n_conditions = 0
        self.props = {**corpus.props(), "reference_rows": len(self.ref.rows)}

    def trace_points(self, tracer):
        tracer.tag_call_sites()  # the operation opens the corpus span itself

    def run(self, spark, tracer, i):
        from tsatool_app_spark.plans.driver_queries import QUERIES

        with tracer.op(i), tracer.span("corpus"):
            df = QUERIES["pretraining_mix"].fn(spark, self.docs_dir)
            rows = df.collect()
        return df.columns, rows

    def check(self, out):
        self.ref.check(*out)

    def alter(self, out):
        columns, rows = out
        return columns, rows[:-1]


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def build_session(work: str, traced: bool):
    from tsatool_app_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("e2ebench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def anchor(work: str) -> dict:
    import bench

    spark = build_session(work, traced=False)
    try:
        return bench.calibration_anchor(spark)
    finally:
        stop_session(spark)


# ---------------------------------------------------------------------------
# Main loop
# ---------------------------------------------------------------------------


def measure(args, work, cores):
    import numpy as np

    import tracing as tr

    t_start = time.perf_counter()
    rng = np.random.default_rng(args.seed)
    wl = {"sheet_report": SheetReport, "corpus_mix": CorpusMix}[
        args.workload
    ](work, rng)
    reset_hwm()

    t0 = time.perf_counter()
    spark = build_session(work, traced=bool(args.trace))
    setup_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = tr.Tracer(spark.sparkContext) if args.trace else tr.NullTracer()
    if args.trace:
        wl.trace_points(tracer)

    times, failures = [], []

    def one_op(i, altered=False):
        t = time.perf_counter()
        try:
            out = wl.run(spark, tracer, i)
            dt = time.perf_counter() - t
            wl.check(wl.alter(out) if altered else out)
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            dt = time.perf_counter() - t
            failures.append({"op": i, "error": f"{type(e).__name__}: {e}"[:500]})
            if not altered:
                traceback.print_exc(file=sys.stderr)
        times.append(dt)

    try:
        one_op(0)
        if args.selftest:
            one_op(1, altered=True)
        else:
            for i in range(1, 1 + wl.warmup_ops):
                one_op(i)
            first = i = 1 + wl.warmup_ops
            start = time.perf_counter()
            while i < first + wl.warm_ops or time.perf_counter() - start < args.seconds:
                one_op(i)
                i += 1
        rss = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}
    finally:
        if args.trace:
            tracer.unwrap()
        t_stop = time.perf_counter()
        stop_session(spark)

    warm = list(range(1 + wl.warmup_ops, len(times)))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "inputs": wl.props,
        "warmup_ops": wl.warmup_ops,
        "ops": len(warm),
        "op_samples_s": times,
        "attempted": len(times),
        "failed": len(failures),
        "fail_frac": len(failures) / len(times),
        "failures": failures,
        "peak_rss_mb": rss,
        # where the run's wall time goes: inputs and reference, session,
        # operations, stopping the session
        "phases_s": {"inputs": t0 - t_start, "setup": setup_s,
                     "ops": t_stop - t0 - setup_s, "stop": time.perf_counter() - t_stop},
    }
    if args.trace:
        log = tr.read_event_log(os.path.join(work, "eventlog"))
        metrics = tr.layer_metrics(tracer.spans, tracer.actions, log, warm, wl.n_conditions)
        units = dict(tr.metric_names())
        result_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        detail["spans"] = tracer.spans
    else:
        values = {
            "op_s": statistics.median(times[i] for i in warm) if warm else times[0],
            "first_op_s": times[0],
            "setup_s": setup_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        result_metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}
    return detail, result_metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tsatool_app_spark")):
        print(f"error: package tsatool_app_spark not found under {ROOT}", file=sys.stderr)
        return 2
    mode = "anchor" if args.anchor else f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".e2ebench_work", f"{mode}-{os.getpid()}")
    os.makedirs(work)
    try:
        cores = prepare_env(work)
        if args.anchor:
            print(json.dumps({"anchor": anchor(work), "cores": cores, "time": time.time()}))
            return 0
        detail, metrics = measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".e2ebench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = "selftest" if args.selftest else f"trace{args.trace}"
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{tag}.json"), "w") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1, default=str)
    detail.pop("spans", None)
    print(json.dumps(detail, default=str))
    if args.selftest:
        # the clean operation passes, the altered one is counted as failed
        ok = [f["op"] for f in detail["failures"]] == [1]
        print(json.dumps({"selftest": "ok" if ok else "failed",
                          "fail_frac": detail["fail_frac"]}))
        return 0 if ok else 1
    correct = detail["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": detail["attempted"],
                      "failed": detail["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

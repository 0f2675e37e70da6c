"""Closed-loop benchmark of predictor_spark on local[<nproc>].

Run from the repository root:

    python3 perfbench/run.py --workload forecast --seed 1 --seconds 10 --trace 0

One client (this process) runs one catalog row at a time. A run:

1. writes the workload's input tables under ``perfbench/_data/`` once per
   checkout (fixed generator seed; not part of any timing);
2. sets the engine up once and reports it as ``setup_s``: from process start
   (less the time step 1 took) through JVM launch, session, catalog import
   and warm-up. Warm-up touches every table the workload reads and starts one
   Python worker per core. Each run is one cold sample; the runs give the
   spread;
3. outside any timing, builds every row, collects it and compares it with its
   DuckDB oracle at the same scale, then runs ``WARM_PASSES`` untimed noop
   passes. These pay each row's one-time plan, codegen and memo cost and
   the steepest part of the JIT warm-up;
4. runs passes over the workload's rows, each pass in an order drawn from
   ``--seed``, until ``--seconds`` have elapsed and at least ``MIN_PASSES``
   have run, so a slow stretch of the machine does not leave a median of
   two. Each row is timed as *build* (the catalog call that returns the
   DataFrame, eager jobs included) and *action* (a noop write of the result);
5. with ``--trace 1``, splits ``--seconds`` into an untraced quarter, a half
   in a SparkContext that writes Spark's event log, and another untraced
   quarter (each segment in a fresh, warmed-up context, so the traced passes
   are compared with untraced ones both before and after them), then folds
   the log into per-row job, task, shuffle and Python-worker totals;
6. prints one JSON line (``correct``, ``attempted``, ``failed``, ``metrics``)
   last on stdout, and writes the full record to ``perfbench/_runs/``.

It exits with status 2, printing no result, when the engine is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from datagen import ensure_dataset
from eventlog import combine, fold, read_events
from workloads import WORKLOADS, Workload, pass_orders

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_SEED = 42
MIN_PASSES = 3
#: untimed passes between the oracle check and the timed passes. The driver
#: JVM's JIT makes the first passes 20-40 % slower than the later ones
WARM_PASSES = 3

#: (name, unit) reported with --trace 0: what a user of the engine sees.
END_TO_END = (
    ("setup_s", "s"),
    ("sweep_s", "s"),
    ("query_p50_s", "s"),
    ("jvm_live_heap_mb", "MB"),
)

#: (name, unit) reported with --trace 1: one layer each, per pass unless the
#: name says otherwise.
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("entry.catalog_load_s", "s"),
    ("entry.queries_call_s", "s"),
    ("sources.load_table_calls", "count"),
    ("sources.load_table_s", "s"),
    ("sources.load_table_jobs", "count"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_share", "ratio"),
    ("action.s", "s"),
    ("action.jobs", "count"),
    ("action.stages", "count"),
    ("action.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.peak_mem_bytes", "bytes"),
    ("exec.failed_tasks", "count"),
    ("exec.result_bytes", "bytes"),
    ("exec.output_bytes", "bytes"),
    ("python.boot_s", "s"),
    ("python.init_s", "s"),
    ("python.run_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_received", "bytes"),
    ("check.oracle_mismatches", "count"),
    ("check.errors", "count"),
    ("failed_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
    ("machine.matmul2048_s", "s"),
    ("machine.pyloop5e6_s", "s"),
    ("machine.steal_s", "s"),
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class LoadTableProbe:
    """Counts and times every call into ``sources.tables.load_table``.

    Installed before the catalog modules import the function, so their
    module-level bindings get the wrapper. ``tag`` is set for the traced
    segment: then jobs the call starts (parquet schema inference) carry
    ``bench.layer``, and the rows' jobs their query and phase."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self.tag = False

    def install(self) -> None:
        import predictor_spark.sources as sources
        import predictor_spark.sources.tables as tables

        inner = tables.load_table

        def load_table(spark, *args, **kwargs):
            sc = spark.sparkContext if self.tag else None
            if sc is not None:
                sc.setLocalProperty("bench.layer", "load_table")
            t0 = time.perf_counter()
            try:
                return inner(spark, *args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                if sc is not None:
                    sc.setLocalProperty("bench.layer", None)

        tables.load_table = sources.load_table = load_table


def process_age_s() -> float:
    """Seconds since this process started, as the kernel recorded it."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU seconds stolen by the hypervisor so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_verdict(name: str, sdf, odf) -> str:
    """"ok", or "mismatch: <first problem>" between a row's Spark result and
    its oracle's, checked as ``tools/check_correctness.py`` checks them and
    in its order."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check_correctness as cc
    finally:
        sys.path[:] = saved
    if len(sdf) != len(odf):
        return f"mismatch: {len(sdf)} rows vs oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"mismatch: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    if dtypes := cc.dtype_mismatches(sdf, odf):
        return "mismatch: " + dtypes[0]
    if len(sdf) == 0 and name not in cc.EXPECTED_EMPTY:
        return "mismatch: vacuous 0-row result"
    if name not in cc.ALLOWED_CONSTANT and (degen := cc.degenerate_numeric(sdf)):
        return "mismatch: " + degen
    if not cc.normalize_pdf(sdf).equals(cc.normalize_pdf(odf)):
        return "mismatch: values differ from the oracle"
    return "ok"


class Bench:
    """One benchmark process: the engine session and everything measured."""

    def __init__(self, wl: Workload, sf_dir: str, cpus: int) -> None:
        self.wl, self.sf_dir, self.cpus = wl, sf_dir, cpus
        self.probe = LoadTableProbe()
        self.spark = None
        self.queries: dict = {}
        self.setup: dict[str, float] = {}
        self.errors: list[str] = []
        self.attempted = 0

    # -- set-up -------------------------------------------------------
    def set_up(self, excluded_s: float) -> None:
        """Import the engine, start a session (launching the JVM), load the
        catalog and warm up. ``setup_s`` counts from process start, less
        ``excluded_s`` spent before on the benchmark's own inputs."""
        self.probe.install()
        import __spark_entry__
        from predictor_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        self.queries = __spark_entry__.queries()
        queries_s = time.perf_counter() - t
        t = time.perf_counter()
        self.warm_up()
        warmup_s = time.perf_counter() - t
        self.setup = {"setup_s": process_age_s() - excluded_s, "session_s": session_s,
                      "queries_s": queries_s, "warmup_s": warmup_s}

    def repeat_queries_call(self) -> float:
        """Seconds of one more ``queries()`` call, catalog already loaded."""
        import __spark_entry__

        t = time.perf_counter()
        __spark_entry__.queries()
        return time.perf_counter() - t

    def warm_up(self) -> None:
        """Touch every table the workload reads and run one Python task per
        core, so the worker pool is up before the first timed row."""
        import predictor_spark.sources.tables as tables

        for name in self.wl.tables:
            tables.load_table(self.spark, self.sf_dir, name).count()
        (self.spark.range(self.cpus, numPartitions=self.cpus)
         .mapInPandas(lambda batches: batches, "id long").write.format("noop")
         .mode("overwrite").save())

    # -- timed passes -------------------------------------------------
    def run_row(self, name: str) -> tuple[float, float]:
        """Build and materialise one row; returns (build, action) seconds.
        In the traced segment its jobs carry ``bench.query``/``bench.phase``."""
        sc = self.spark.sparkContext
        tag = self.probe.tag
        try:
            if tag:
                sc.setLocalProperty("bench.query", name)
                sc.setLocalProperty("bench.phase", "build")
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if tag:
                sc.setLocalProperty("bench.phase", "action")
            _noop(df)
            return t1 - t0, time.perf_counter() - t1
        finally:
            if tag:
                sc.setLocalProperty("bench.query", None)
                sc.setLocalProperty("bench.phase", None)
            self.spark.catalog.clearCache()

    def timed_passes(self, seconds: float, orders, min_passes: int = 1) -> list[dict]:
        passes: list[dict] = []
        t_end = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < t_end:
            p0, steal0 = time.perf_counter(), steal_s()
            rows = []
            for name in next(orders):
                calls, load_s = self.probe.calls, self.probe.seconds
                self.attempted += 1
                try:
                    build, action = self.run_row(name)
                except Exception as e:  # noqa: BLE001 - a failing row is counted, not fatal
                    self.errors.append(f"{name}: {e!r}"[:500])
                    rows.append({"row": name, "error": True})
                    continue
                rows.append({"row": name, "build_s": build, "action_s": action,
                             "load_table_calls": self.probe.calls - calls,
                             "load_table_s": self.probe.seconds - load_s})
            passes.append({"sweep_s": time.perf_counter() - p0, "rows": rows,
                           "steal_s": steal_s() - steal0})
        return passes

    def jvm_live_heap_mb(self) -> float:
        """Driver heap still in use after a full collection: what the engine
        retains (catalog, plan and status state) once set-up and the warm-up
        passes are done. Unlike peak RSS it does not depend on when the
        collector ran, and unlike a reading after the timed passes it does
        not depend on how many passes fitted in the run."""
        jvm = self.spark._jvm
        # the first collection queues Spark's weak references; its context
        # cleaner then drops what they held, and the second one frees it
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -- warm-up passes and the traced segment -------------------------
    def warm_pass(self) -> None:
        """One untimed, untagged pass, so the timed passes start warm."""
        self.timed_passes(0, iter([self.wl.rows]))

    def restart(self, log_dir: str | None) -> None:
        """New SparkContext in the same JVM, warmed up like the first, with
        Spark's event log written to ``log_dir`` (or off). The settings go in
        as JVM system properties, which every SparkConf created afterwards
        loads as defaults."""
        system = self.spark._jvm.java.lang.System
        for key, value in (("spark.eventLog.enabled", "true"),
                           ("spark.eventLog.dir", f"file://{log_dir}"),
                           ("spark.eventLog.compress", "false")):
            if log_dir:
                system.setProperty(key, value)
            else:
                system.clearProperty(key)
        self.spark.stop()
        from predictor_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.probe.tag = False
        self.warm_up()
        self.warm_pass()
        self.probe.tag = log_dir is not None

    # -- correctness --------------------------------------------------
    def check(self) -> dict[str, str]:
        """Build every row, collect it and compare it with its DuckDB
        oracle, with the checks of ``tools/check_correctness.py`` in its
        order. Returns row -> "ok" or the first problem found."""
        import duckdb

        import predictor_spark.sources.tables as tables
        from predictor_spark.plans.catalog import ORACLE

        out: dict[str, str] = {}
        for name in self.wl.rows:
            try:
                sdf = self.queries[name](self.spark, self.sf_dir).toPandas()
                con = duckdb.connect()
                try:
                    for t in tables.TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{self.sf_dir}/{t}.parquet'")
                    odf = con.execute(ORACLE[name]).fetchdf()
                finally:
                    con.close()
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                out[name] = f"error: {e!r}"[:500]
                continue
            finally:
                self.spark.catalog.clearCache()
            out[name] = oracle_verdict(name, sdf, odf)
        return out

    def shut_down(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def yardstick() -> dict[str, float]:
    """Machine speed independent of Spark, as ``bench.py`` records it, so
    box drift can be told apart from code drift."""
    import numpy as np

    rng = np.random.default_rng(0)
    a, b = rng.random((2048, 2048)), rng.random((2048, 2048))
    a @ b
    t0 = time.perf_counter()
    a @ b
    mm = time.perf_counter() - t0
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return {"machine.matmul2048_s": mm, "machine.pyloop5e6_s": time.perf_counter() - t0}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(bench: Bench, before: list[dict], traced: list[dict], after: list[dict],
                  groups: dict, checks: dict[str, str]) -> dict[str, float]:
    plain = before + after
    ok_rows = [[r for r in p["rows"] if "error" not in r] for p in plain]
    build = _median(sum(r["build_s"] for r in rows) for rows in ok_rows)
    action = _median(sum(r["action_s"] for r in rows) for rows in ok_rows)
    per_pass = combine(groups.values())
    n_traced = max(1, len(traced))
    build_g = combine(g for (_, phase), g in groups.items() if phase == "build")
    action_g = combine(g for (_, phase), g in groups.items() if phase == "action")
    m = {
        "session.start_s": bench.setup["session_s"],
        "session.warmup_s": bench.setup["warmup_s"],
        "entry.catalog_load_s": bench.setup["queries_s"],
        "entry.queries_call_s": bench.setup["queries_repeat_s"],
        "sources.load_table_calls": _median(
            sum(r["load_table_calls"] for r in rows) for rows in ok_rows),
        "sources.load_table_s": _median(
            sum(r["load_table_s"] for r in rows) for rows in ok_rows),
        "sources.load_table_jobs": per_pass["load_table_jobs"] / n_traced,
        "plans.build_s": build,
        "plans.build_jobs": build_g["jobs"] / n_traced,
        "plans.build_share": build / (build + action) if build + action else 0.0,
        "action.s": action,
        "action.jobs": action_g["jobs"] / n_traced,
        "action.stages": action_g["stages"] / n_traced,
        "action.tasks": action_g["tasks"] / n_traced,
        "exec.failed_tasks": per_pass["failed_tasks"] / n_traced,
        # CPU seconds the hypervisor took from this machine during a pass
        "machine.steal_s": _median(p["steal_s"] for p in plain),
        "check.oracle_mismatches": sum(v.startswith("mismatch") for v in checks.values()),
        "check.errors": sum(v.startswith("error") for v in checks.values()),
        # against both untraced segments, so warm-up between segments cancels
        "trace.overhead_frac": (_median(p["sweep_s"] for p in traced)
                                / statistics.mean(_median(p["sweep_s"] for p in seg)
                                                  for seg in (before, after)) - 1.0),
    }
    for key, value in per_pass.items():
        if key.startswith(("exec.", "python.")):
            m[key] = value if key == "exec.peak_mem_bytes" else value / n_traced
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "predictor_spark"))):
        print(f"no engine found under {ROOT}: __spark_entry__.py and "
              "predictor_spark/ are required", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    sf_dir = ensure_dataset(os.path.join(HERE, "_data"), wl.scale, DATA_SEED)
    inputs_s = time.perf_counter() - t0
    run_dir = os.path.join(HERE, "_runs", f"{wl.name}-seed{args.seed}-trace{args.trace}"
                           f"-{os.getpid()}")
    scratch = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "eventlog")}
    for d in scratch.values():
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 16g default is sized for a dedicated box
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": scratch["local"],
        "TMPDIR": scratch["tmp"],
        "PYSPARK_SUBMIT_ARGS": "--conf spark.driver.extraJavaOptions="
                               f"-Djava.io.tmpdir={scratch['tmp']} pyspark-shell",
    })
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)  # anything the engine writes relative to cwd stays in the run

    bench = Bench(wl, sf_dir, cpus)
    orders = pass_orders(wl.rows, args.seed)
    traced: list[dict] = []
    after: list[dict] = []
    groups: dict = {}
    marks = {"start": process_age_s()}
    try:
        bench.set_up(excluded_s=inputs_s)
        marks["set_up"] = process_age_s()
        checks = bench.check()
        marks["check"] = process_age_s()
        if args.trace:
            bench.setup["queries_repeat_s"] = bench.repeat_queries_call()
            bench.restart(None)  # the same footing as the traced segment
        else:
            for _ in range(WARM_PASSES):
                bench.warm_pass()
        heap_mb = bench.jvm_live_heap_mb()
        marks["warm_up"] = process_age_s()
        if args.trace:
            plain = bench.timed_passes(args.seconds / 4, orders)
        else:
            plain = bench.timed_passes(args.seconds, orders, MIN_PASSES)
        if args.trace:
            bench.restart(scratch["eventlog"])
            traced = bench.timed_passes(args.seconds / 2, orders)
            bench.restart(None)  # stops the traced context, completing its log
            after = bench.timed_passes(args.seconds / 4, orders)
            groups = fold(read_events(scratch["eventlog"]))
        marks["passes"] = process_age_s()
    finally:
        bench.shut_down()
        os.chdir(ROOT)
        for d in scratch.values():
            shutil.rmtree(d, ignore_errors=True)

    failed = len(bench.errors) + sum(v != "ok" for v in checks.values())
    attempted = bench.attempted + len(checks)
    if args.trace:
        metrics = layer_metrics(bench, plain, traced, after, groups, checks)
        metrics["failed_frac"] = failed / attempted
        metrics.update(yardstick())
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": bench.setup["setup_s"],
            "sweep_s": _median(p["sweep_s"] for p in plain),
            "query_p50_s": _median(r["build_s"] + r["action_s"] for p in plain
                                   for r in p["rows"] if "error" not in r),
            "jvm_live_heap_mb": heap_mb,
        }
        units = dict(END_TO_END)
    result = {"correct": failed == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}

    record = {
        "args": vars(args), "workload": wl.rows, "scale": wl.scale, "cpus": cpus,
        "setup": bench.setup, "inputs_s": inputs_s, "passes": plain,
        "traced_passes": traced, "passes_after_trace": after,
        "jobs_by_row_phase": {f"{q}/{ph}": g for (q, ph), g in sorted(groups.items())},
        "checks": checks, "errors": bench.errors, "result": result,
    }
    if not args.trace:
        record["yardstick"] = yardstick()
    marks["end"] = process_age_s()
    record["phase_end_s"] = marks  # seconds since process start
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for name, status in checks.items():
        if status != "ok":
            print(f"check {name}: {status}", file=sys.stderr)
    for err in bench.errors:
        print(f"error {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

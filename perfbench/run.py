#!/usr/bin/env python3
"""The pipeline benchmark: one workload, one seed, one measured window.

Run from the repository root:

    python3 perfbench/run.py --workload batch_agg --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer ones
(see BENCHMARK.json and perfbench/README.md). The line before it is the
host fingerprint. Exit code 0 means every rep's output matched its oracle;
1 means at least one did not; 2 means the benchmark refused to run.

All files the run writes, and Spark's and DuckDB's scratch space, stay
under ``.perfbench/`` in the checkout: inputs in a per-run work directory
that is removed at the end, records and span files in ``.perfbench/out``.
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
import traceback
import uuid
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "out")

# Set-ups per run; setup_s is their median. The first one also launches
# the JVM, the second restarts the session inside it (a new SparkContext
# with new Python workers). More would not fit the time a full set of
# runs may take.
SETUPS = 2

END_TO_END = {
    "setup_s": "s",
    "rows_per_s.arrow": "1/s",
    "rows_per_s.jvm": "1/s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    "cpu.us_per_row.arrow": "us",
    "cpu.us_per_row.jvm": "us",
    "scan.time_ms": "ms",
    "scan.bytes_read": "B",
    "parser.python_run_ms": "ms",
    "parser.python_start_ms": "ms",
    "parser.python_init_ms": "ms",
    "parser.bytes_to_python": "B",
    "parser.bytes_from_python": "B",
    "parser.codegen_ms.jvm": "ms",
    "parser.probe_s.arrow": "s",
    "parser.probe_s.jvm": "s",
    "parser.parse_ok_ratio": "ratio",
    "scale.eff_1toN.arrow": "ratio",
    "scale.eff_1toN.jvm": "ratio",
    "enrich.broadcast_collect_ms": "ms",
    "enrich.broadcast_build_ms": "ms",
    "enrich.broadcast_bytes": "B",
    "enrich.probe_s": "s",
    "route.rows.sink_errors": "count",
    "route.rows.sink_tool": "count",
    "route.rows.sink_user": "count",
    "route.rows.sink_default": "count",
    "skew.shuffle_bytes": "B",
    "skew.shuffle_write_ms": "ms",
    "skew.fetch_wait_ms": "ms",
    "skew.partition_max_over_median": "ratio",
    "aggregate.build_ms": "ms",
    "aggregate.peak_mem_bytes": "B",
    "aggregate.spill_bytes": "B",
    "aggregate.shuffle_bytes": "B",
    "aggregate.probes_per_key": "ratio",
    "sink.write_ms": "ms",
    "sink.job_commit_ms": "ms",
    "sink.task_commit_ms": "ms",
    "sink.bytes_written": "B",
    "sink.files_written": "count",
    "stream.sql_execs_per_batch": "count",
    "stream.add_batch_ms": "ms",
    "stream.trigger_overhead_ms": "ms",
    "stream.routed_write_ms": "ms",
    "stream.agg_write_ms": "ms",
    "stream.metric_jobs_ms": "ms",
    "stream.ledger_io_ms": "ms",
    "stream.microbatch_p90_ms": "ms",
    "ledger.record_batch_ms": "ms",
    "ledger.recover_ms": "ms",
    "catalog.line_dedup_s": "s",
    "catalog.line_dedup.shuffle_bytes": "B",
    "catalog.dup_families_s": "s",
    "catalog.dup_families.shuffle_bytes": "B",
    "catalog.conv_curation_s": "s",
    "catalog.conv_curation.shuffle_bytes": "B",
    "split.wall_ms": "ms",
    "split.explained_ms": "ms",
    "split.unexplained_ms": "ms",
    "trace.harvest_ms": "ms",
    "trace.overhead_pct": "%",
}

CONTROL_ROWS = 2_000_000
# Untimed reps on the full input before the window, so JIT and caches
# settle at the size the window measures. A count, not a time: a run on
# a slowed host would otherwise start its window less warm. Two reps run
# each parse engine at least once after set-up.
WARM_IN_REPS = 2
# Warm-in of the scaling phase, which runs at one core.
WARM_IN_S = 6.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def check_cores(cores: int, n: int) -> int:
    """Every session starts through this check. A level above ``n``
    would time-share cores and understate scaling, so it is refused
    rather than run."""
    if not 1 <= cores <= n:
        raise ValueError(f"refusing core level {cores}: this host has nproc={n}")
    return cores


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` and pin the time zone the oracles compare in."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    # the master follows the level asked for, never an inherited override
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TZ"] = "UTC"
    time.tzset()


def import_program() -> None:
    sys.path.insert(0, ROOT)
    import log_formatter_spark

    if not os.path.abspath(log_formatter_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"log_formatter_spark is not in {ROOT}")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Bench:
    def __init__(self, args, work: str):
        import oracle
        from tracing import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.slots = nproc()
        self.levels = (1, self.slots)  # of the scaling measurement
        self.seed = args.seed
        self.work = work
        self.run_id = uuid.uuid4().hex[:12]
        self.tracer = Tracer(self.run_id)
        self.duck = oracle.connect(self.slots, os.path.join(work, "duckdb"))
        self.spark = None
        self.store = None
        self.attempted = 0
        self.failed = 0
        self.reps_started = 0  # rep ids are unique across windows
        self.workload = WORKLOADS[args.workload](self)

    # --- session lifetime -------------------------------------------------

    def start_session(self, cores: int):
        from log_formatter_spark import get_spark
        from sqlstore import StatusStore

        self.spark = get_spark(
            "perfbench",
            cores=check_cores(cores, self.slots),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.store = StatusStore(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, then wait for every process
        this run started (JVM, Python workers) to end."""
        from pyspark import SparkContext
        from tracing import descendants

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        self.duck.close()

    # --- phases -------------------------------------------------------------

    def setup(self, k: int, cores: int) -> dict:
        self.stop_session()
        with self.tracer.span("setup", k=k, cores=cores):
            t0 = time.perf_counter()
            spark = self.start_session(cores)
            t1 = time.perf_counter()
            self.workload.bind(spark)
            self.workload.warmup(spark)
            t2 = time.perf_counter()
        return {"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0}

    def control_query(self) -> float:
        """Median ms of a fixed query that runs none of the program."""
        want = sum(range(7)) * (CONTROL_ROWS // 7) + sum(range(CONTROL_ROWS % 7))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            got = self.spark.range(0, CONTROL_ROWS, 1, self.slots).selectExpr(
                "sum(id % 7) AS s"
            ).collect()[0]["s"]
            times.append(1000 * (time.perf_counter() - t0))
            if got != want:
                raise RuntimeError(f"control query returned {got}, expected {want}")
        return statistics.median(times)

    def window(self, seconds: float, trace: bool, workload=None, min_reps: int = 1) -> dict:
        """Closed loop, one client: reps back to back, at least
        ``min_reps``, until the next one would overrun ``seconds``. Outputs are checked after each rep's
        timed part; a mismatch or an exception counts as a failed rep."""
        from oracle import Mismatch
        from tracing import host_cpu_ticks, steal_pct

        workload = workload or self.workload

        reps, layers, harvest = [], [], []
        start = time.perf_counter()
        last = 0.0
        n = 0
        with self.tracer.span("window", seconds=seconds, traced=trace):
            while n < min_reps or time.perf_counter() - start + last <= seconds:
                n += 1
                i = self.reps_started
                self.reps_started += 1
                t_iter = time.perf_counter()
                ticks = host_cpu_ticks()
                offset = self.store.count() if trace else 0
                self.attempted += 1
                with self.tracer.span("rep", i=i) as attrs:
                    try:
                        rep = workload.rep(self.spark, i)
                    except Mismatch as e:
                        self._fail(attrs, f"wrong output: {e}")
                    except Exception as e:  # a crashed rep is a failed rep, the run goes on
                        traceback.print_exc(file=sys.stderr)
                        self._fail(attrs, "".join(traceback.format_exception_only(e)).strip())
                    else:
                        rep.steal_pct = steal_pct(ticks, host_cpu_ticks())
                        attrs.update(seconds=rep.seconds, rows=rep.rows, steal_pct=rep.steal_pct)
                        for part, (a, b, cpu) in rep.parts.items():
                            self.tracer.add("part", a, b, part=part, cpu_s=cpu)
                        if trace:
                            t0 = time.perf_counter()
                            execs = self.store.since(offset)
                            for ex in execs:
                                self.tracer.add(
                                    "sql", ex.start_ms / 1000, ex.end_ms / 1000,
                                    execution=ex.id, wall_ms=ex.wall_ms,
                                )
                            layers.append(workload.layers(rep, execs))
                            harvest.append(time.perf_counter() - t0)
                        reps.append(rep)
                last = time.perf_counter() - t_iter
        return {"reps": reps, "layers": layers, "harvest_s": harvest}

    def _fail(self, attrs: dict, why: str) -> None:
        self.failed += 1
        attrs["error"] = why
        print(f"[perfbench] rep failed: {why}", file=sys.stderr)

    def scaling(self, window: list) -> dict[str, float]:
        """Scaling efficiency from the lowest core level to the window's:
        (throughput_hi / throughput_lo) / (hi / lo), per engine, from
        median rep-part times of the same input. Restarts the session."""
        lo, hi = self.levels
        if lo == hi or not window:
            return {}
        hi_t = {e: _median(r.part_seconds(e) for r in window) for e in window[0].parts}
        with self.tracer.span("scaling", cores=lo):
            self.setup(SETUPS, lo)
            self.window(WARM_IN_S, trace=False)
            low = self.window(self.args.seconds / 2, trace=False)["reps"]
        out = {}
        for e in hi_t:
            lo_t = _median(r.part_seconds(e) for r in low)
            if lo_t:
                out[f"scale.eff_1toN.{e}"] = (lo_t / hi_t[e]) / (hi / lo)
        return out

    def side_workload(self, workload, prefixes: tuple[str, ...]) -> dict[str, float]:
        """Layer metrics (those starting with ``prefixes``) of a workload
        measured inside another one's traced run, on the same session:
        one traced rep after a warm-up of both engines."""
        from workloads import ENGINES

        with self.tracer.span("side_workload", workload=workload.name):
            workload.prepare()
            workload.bind(self.spark)
            workload.warmup(self.spark, ENGINES)
            win = self.window(0, trace=True, workload=workload)
        self._print_split(win["reps"], workload.name)
        layers = win["layers"]
        keys = {k for d in layers for k in d if k.startswith(prefixes)}
        return {k: _median(d.get(k, 0.0) for d in layers) for k in keys}

    # --- the run -------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        from tracing import RssSampler, host_fingerprint

        args, wl = self.args, self.workload
        trace = bool(args.trace)
        # the sampler walks /proc every 100 ms, so only traced runs pay it
        with RssSampler() if trace else nullcontext() as rss, self.tracer.span(
            "run", workload=wl.name, seed=self.seed, trace=trace
        ), self.tracer.span("workload", workload=wl.name):
            with self.tracer.span("prepare"):
                input_desc = wl.prepare()
            # a traced run reports only the first set-up (session.*), and
            # its probes need the time a second one would take
            setups = [self.setup(k, self.slots) for k in range(1 if trace else SETUPS)]
            with self.tracer.span("control"):
                host = host_fingerprint(nproc(), self.control_query())
            with self.tracer.span("warm_in"):
                self.window(0, trace=False, min_reps=WARM_IN_REPS)
            win = self.window(args.seconds, trace)
            reps = win["reps"]
            probes = {}
            if trace and reps:
                with self.tracer.span("probes"):
                    probes = wl.probes(self.spark, reps)
            peak_rss_mb = rss.peak / 2**20 if trace else None

        if trace:
            values = self._per_layer(setups, win, probes)
            values["memory.peak_rss_mb"] = peak_rss_mb
            metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": _median(s["total_s"] for s in setups),
                "latency_p50_ms": _median(x for r in reps for x in r.latencies_ms),
            }
            for engine in ("arrow", "jvm"):
                values[f"rows_per_s.{engine}"] = _median(
                    r.rows / r.part_seconds(engine) for r in reps if engine in r.parts
                )
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        result = {
            "correct": self.failed == 0 and bool(reps),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        record = {
            "run_id": self.run_id,
            "workload": wl.name,
            "seed": self.seed,
            "seconds": args.seconds,
            "trace": trace,
            "levels": self.levels,
            "host": host,
            "inputs": input_desc,
            "setups": setups,
            "peak_rss_mb": peak_rss_mb,
            "phases_s": self._phases(),
            "reps": [
                {"rows": r.rows,
                 "parts_s": {p: r.part_seconds(p) for p in r.parts},
                 "parts_cpu_s": {p: r.part_cpu_seconds(p) for p in r.parts},
                 "latencies_ms": r.latencies_ms,
                 "steal_pct": r.steal_pct,
                 "split": r.extra.get("split")}
                for r in reps
            ],
        }
        if trace:
            self._print_split(reps, wl.name)
            path = os.path.join(OUT, f"trace-{wl.name}-{self.seed}-{self.run_id}.json")
            self.tracer.write(path, record=record)
            print(f"[perfbench] spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        return record, result

    def _phases(self) -> list[tuple[str, float]]:
        """Wall time of each phase of the workload span, in order."""
        top = next(s["id"] for s in self.tracer.spans if s["name"] == "workload")
        return [
            (s["name"], s["end"] - s["start"])
            for s in self.tracer.spans
            if s["parent"] == top and s["end"] is not None
        ]

    def _per_layer(self, setups: list[dict], win: dict, probes: dict) -> dict[str, float]:
        keys = {k for d in win["layers"] for k in d}
        values = {k: _median(d.get(k, 0.0) for d in win["layers"]) for k in keys}
        values.update(probes)
        for engine in ("arrow", "jvm"):
            values[f"cpu.us_per_row.{engine}"] = _median(
                1e6 * r.part_cpu_seconds(engine) / r.rows for r in win["reps"] if engine in r.parts
            )
        values["session.start_s"] = setups[0]["start_s"]
        values["session.warmup_s"] = setups[0]["warmup_s"]
        harvest = win["harvest_s"]
        rep_s = sum(r.seconds for r in win["reps"])
        values["trace.harvest_ms"] = 1000 * _median(harvest)
        # Untraced runs fill the status store and keep spans too; what
        # tracing adds is the store read after each rep. Its share of the
        # reps' time stands in for the traced/untraced gap, which two
        # separate runs cannot show: they differ by more than that
        # between JVM launches.
        values["trace.overhead_pct"] = 100 * sum(harvest) / rep_s if rep_s else 0.0
        return values

    def _print_split(self, reps: list, title: str) -> None:
        splits = [r.extra["split"] for r in reps if r.extra.get("split")]
        if not splits:
            return
        s = sorted(splits, key=lambda x: x["wall_ms"])[len(splits) // 2]
        slots, err = s["slots"], sys.stderr
        print(f"[perfbench] {title}, median rep: wall {s['wall_ms']:.0f} ms over {slots} slots", file=err)
        for engine, e in s["engines"].items():
            print(f"  {engine}: wall {e['wall_ms']:.0f} ms", file=err)
            for name, ms in e["task_ms"].items():
                print(f"    {name:<54} task {ms:9.0f} ms  /slots {ms / slots:8.0f} ms", file=err)
            for name, ms in e["inside_ms"].items():
                print(f"    {name:<54} task {ms:9.0f} ms  (overlaps the above, not summed)", file=err)
            for name, ms in e["driver_ms"].items():
                print(f"    {name:<54} wall {ms:9.0f} ms", file=err)
            print(f"    {'explained':<54} {e['explained_ms']:14.0f} ms", file=err)
            print(f"    {'unexplained remainder':<54} {e['unexplained_ms']:14.0f} ms", file=err)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if args.seconds <= 0:
        print("[perfbench] --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    try:
        import_program()
    except ImportError as e:
        print(f"[perfbench] cannot import the program from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    bench = None
    try:
        bench = Bench(args, work)
        record, result = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    record["result"] = result
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"host": record["host"], "workload": record["workload"],
                      "seed": record["seed"], "inputs": record["inputs"]}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), warms a
fresh session on a small input of the same shape (``warmup``, part of
set-up), and then repeats one unit of work, a *rep*, in a closed loop
with one client. A rep times calls into the program's public functions,
then checks the output against a DuckDB oracle outside the timed region;
a wrong output raises ``oracle.Mismatch`` and the rep counts as failed.
The timed parts of a flagship rep are named after the parse engine they
ran, so throughput is reported per engine.

Workloads with end-to-end metrics:

- ``batch_agg``: ``pipeline.full_pipeline`` to the per-sink count table,
  once per parse engine. The result is tiny and Catalyst prunes unused
  extract groups, so scan, parse and broadcast enrich do almost all the
  work. This is where a parse or enrich gain shows.
- ``stream_ledger``: ``streaming.job.run_streaming_pipeline`` with one
  file per trigger, the parse engines taking turns from rep to rep: small
  ledgered micro-batches whose fixed per-batch cost dominates. Every extract
  group is consumed and full rows are written, so a parse gain that comes
  only from pruning shows nothing here.

Measured only inside a traced run (every run pays a JVM launch and a cold
warm-up, so a full set of runs of two more workloads would not fit the
time budget of one benchmark pass):

- ``BatchFanout`` (in ``stream_ledger``'s): salted ``hash(conv_id)``
  repartition, ``sinks.writer.write_routed``, then the aggregate over the
  written sinks: the exchange, skew and sink layers.
- ``CatalogQueries``: the catalog queries whose identity keys go through
  ``functions.hashing.md5_60``, each hash-equal to its oracle:
  ``dup_families`` in ``batch_agg``'s, ``line_dedup`` and
  ``conv_curation`` in ``stream_ledger``'s.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import inputs
import oracle
from sqlstore import Execution, flagship_layers, shuffle_bytes
from tracing import tree_cpu_seconds

ENGINES = ("arrow", "jvm")
# Set-up warms the program's default engine only (PipelineOptions.engine):
# set-up is what a user waits for before the first result, and a second
# cold streaming query per set-up cost 3-7 s of every run. The other
# engine's first use falls in the untimed warm-in.
SETUP_ENGINES = ("arrow",)


@dataclass
class Rep:
    """One unit of work: the epoch window and the CPU seconds of each
    timed part, the input rows each part processed and the latency
    samples (ms) it yields."""

    parts: dict[str, tuple[float, float, float]]
    rows: int
    latencies_ms: list[float]
    extra: dict = field(default_factory=dict)
    steal_pct: float = 0.0  # of the host's vCPU time while the rep ran

    @property
    def seconds(self) -> float:
        return sum(b - a for a, b, _ in self.parts.values())

    def part_seconds(self, name: str) -> float:
        a, b, _ = self.parts[name]
        return b - a

    def part_cpu_seconds(self, name: str) -> float:
        return self.parts[name][2]


def _timed(parts: dict, name: str, fn):
    cpu0 = tree_cpu_seconds()
    t0, e0 = time.perf_counter(), time.time()
    out = fn()
    e1 = e0 + time.perf_counter() - t0
    parts[name] = (e0, e1, tree_cpu_seconds() - cpu0)
    return out


def _median_time(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _during(execs: list[Execution], a: float, b: float) -> list[Execution]:
    """The executions submitted within the epoch window [a, b] seconds."""
    return [ex for ex in execs if a * 1000 <= ex.start_ms <= b * 1000]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, self.name)

    def prepare(self) -> dict:
        raise NotImplementedError

    def bind(self, spark) -> None:
        """Called after every session start."""

    def warmup(self, spark, engines=SETUP_ENGINES) -> None:
        raise NotImplementedError

    def rep(self, spark, i: int) -> Rep:
        raise NotImplementedError

    def layers(self, rep: Rep, execs: list[Execution]) -> dict[str, float]:
        return {}

    def probes(self, spark, window: list[Rep]) -> dict[str, float]:
        return {}


# --- flagship batch ---------------------------------------------------------


class _Flagship(Workload):
    # Rep time per engine against input turns (4 vCPUs, one session, one
    # sitting): 50k 0.72 s arrow / 0.54 s jvm, 200k 0.65 / 0.49, 800k
    # 1.22 / 0.83, so about 0.46 / 0.37 s of every rep is fixed cost. At
    # 400k turns per-turn work is over half of a rep, and a 16 s window
    # holds 4-14 reps with the host's load; at 800k a 10 s window held
    # two, whose median moved with every rep the shared host slowed.
    # 16 files make tasks small enough that Spark balances them around a
    # vCPU the host slows.
    N_TURNS = 400_000
    N_FILES = 16
    WARM_TURNS = 8_000
    WARM_FILES = 4

    def prepare(self) -> dict:
        self.src = os.path.join(self.dir, "src")
        self.warm = os.path.join(self.dir, "warm")
        shape = inputs.write_transcripts(self.ctx.seed, self.N_TURNS, self.src, self.N_FILES)
        inputs.write_transcripts(
            self.ctx.seed, self.WARM_TURNS, self.warm, self.WARM_FILES, first_turn=self.N_TURNS
        )
        self.expected = oracle.flagship_expected(self.ctx.duck, self.src)
        return {"turns": self.N_TURNS, "files": self.N_FILES, **shape}

    def run_once(self, spark, src: str, engine: str, i: int):
        raise NotImplementedError

    def check(self, engine: str, result, i: int) -> dict[str, int]:
        return oracle.check_aggregate(result, self.expected)

    def warmup(self, spark, engines=SETUP_ENGINES) -> None:
        for engine in engines:
            self.run_once(spark, self.warm, engine, -1)

    def rep(self, spark, i: int) -> Rep:
        parts: dict = {}
        # alternate which engine runs first so neither always inherits
        # the other's garbage or cache state
        order = ENGINES if i % 2 == 0 else ENGINES[::-1]
        results = {e: _timed(parts, e, lambda e=e: self.run_once(spark, self.src, e, i)) for e in order}
        sinks = {e: self.check(e, r, i) for e, r in results.items()}
        rep = Rep(parts, self.N_TURNS, [])
        rep.latencies_ms.append(rep.seconds * 1000)
        rep.extra["sinks"] = sinks[ENGINES[0]]
        return rep

    def layers(self, rep: Rep, execs: list[Execution]) -> dict[str, float]:
        out = flagship_layers(execs)
        by_engine = {e: flagship_layers(_during(execs, a, b)) for e, (a, b, _) in rep.parts.items()}
        out["parser.codegen_ms.jvm"] = by_engine.get("jvm", {}).get("parser.codegen_ms.jvm", 0.0)
        for sink, n in rep.extra["sinks"].items():
            out[f"route.rows.{sink}"] = float(n)
        out.update(self._split(rep, by_engine))
        return out

    def _split(self, rep: Rep, by_engine: dict[str, dict[str, float]]) -> dict[str, float]:
        """Per engine, task time over slot count next to the part's wall
        time; what the layers do not account for is the remainder.

        Only timers that do not overlap are summed. Tasks are pipelined:
        the jvm regex stage's duration runs from the first row to the
        last, so it holds the scan feeding it, the fused enrich probe and
        partial aggregate, and the shuffle writer's inserts; the python
        workers' run time likewise holds the scan that feeds them. The
        scan, aggregate and shuffle timers inside those are shown, not
        summed."""
        slots = self.ctx.slots
        engines = {}
        for engine, lay in by_engine.items():
            if engine == "jvm":
                task = {
                    "regex stage (scan, parse, enrich probe, partial agg)":
                        lay.get("parser.codegen_ms.jvm", 0.0),
                }
            else:
                task = {
                    "python workers run (scan feeds it, parse)": lay.get("parser.python_run_ms", 0.0),
                }
            task["sink (task commit)"] = lay.get("sink.task_commit_ms", 0.0)
            inside = {
                "scan": lay.get("scan.time_ms", 0.0),
                # reused workers report start and init times reaching back
                # before the rep, so these do not fit in its wall time
                "python workers start + init": lay.get("parser.python_start_ms", 0.0)
                + lay.get("parser.python_init_ms", 0.0),
                "aggregate (build)": lay.get("aggregate.build_ms", 0.0),
                "exchange (shuffle write)": lay.get("skew.shuffle_write_ms", 0.0),
            }
            driver = {
                "enrich (broadcast collect+build)": lay.get("enrich.broadcast_collect_ms", 0.0)
                + lay.get("enrich.broadcast_build_ms", 0.0),
                "sink (job commit)": lay.get("sink.job_commit_ms", 0.0),
            }
            wall = rep.part_seconds(engine) * 1000
            explained = sum(task.values()) / slots + sum(driver.values())
            engines[engine] = {
                "wall_ms": wall,
                "task_ms": task,
                "inside_ms": inside,
                "driver_ms": driver,
                "explained_ms": explained,
                "unexplained_ms": wall - explained,
            }
        wall = sum(e["wall_ms"] for e in engines.values())
        explained = sum(e["explained_ms"] for e in engines.values())
        rep.extra["split"] = {"slots": slots, "wall_ms": wall, "engines": engines}
        return {
            "split.wall_ms": wall,
            "split.explained_ms": explained,
            "split.unexplained_ms": wall - explained,
        }


class BatchAgg(_Flagship):
    name = "batch_agg"

    def run_once(self, spark, src: str, engine: str, i: int):
        from log_formatter_spark.pipeline import PipelineOptions, full_pipeline

        return full_pipeline(
            spark, spark.read.parquet(src), PipelineOptions(engine=engine)
        ).collect()

    def probes(self, spark, window: list[Rep]) -> dict[str, float]:
        """Parse and enrich timed on an already-materialized input, with
        every extract group selected so no pruning applies; then the
        ``dup_families`` catalog query, then the scaling phase (which
        restarts the session at the lowest core level, so it comes
        last)."""
        from log_formatter_spark.lookups import role_lookup, tool_lookup
        from log_formatter_spark.operators.enrich import enrich_role_tool
        from log_formatter_spark.operators.parser import PARSE_OK, ParserConfig, apply_parser
        from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

        out = {}
        t = spark.read.parquet(self.src).persist()
        t.count()
        with self.ctx.tracer.span("probe", layer="parser"):
            for engine in ENGINES:
                cfg = ParserConfig(TRANSCRIPT_PATTERN, "text", engine=engine)
                out[f"parser.probe_s.{engine}"] = _median_time(lambda: _noop(apply_parser(t, cfg)))
        parsed = apply_parser(t, ParserConfig(TRANSCRIPT_PATTERN, "text", engine="jvm")).persist()
        n = parsed.count()
        out["parser.parse_ok_ratio"] = parsed.where(PARSE_OK).count() / n
        with self.ctx.tracer.span("probe", layer="enrich"):
            out["enrich.probe_s"] = _median_time(
                lambda: _noop(enrich_role_tool(parsed, role_lookup(spark), tool_lookup(spark)))
            )
        parsed.unpersist()
        t.unpersist()
        out.update(self.ctx.side_workload(CatalogQueries(self.ctx, ("dup_families",)), ("catalog.",)))
        out.update(self.ctx.scaling(window))
        return out


class BatchFanout(_Flagship):
    name = "batch_fanout"
    # writing full rows makes a rep about twice as slow per turn as
    # batch_agg's; half the input keeps the traced run short
    N_TURNS = 400_000

    def _out(self, engine: str, i: int) -> str:
        return os.path.join(self.dir, f"out-{i}-{engine}")

    def run_once(self, spark, src: str, engine: str, i: int):
        from log_formatter_spark.operators.aggregate import sink_aggregates
        from log_formatter_spark.pipeline import PipelineOptions, parsed_enriched_routed
        from log_formatter_spark.sinks.writer import read_sink, write_routed

        out = self._out(engine, i)
        opts = PipelineOptions(engine=engine, repartition=2 * self.ctx.slots)
        write_routed(parsed_enriched_routed(spark, spark.read.parquet(src), opts), out)
        return sink_aggregates(read_sink(spark, out)).collect()

    def check(self, engine: str, result, i: int) -> dict[str, int]:
        out = self._out(engine, i)
        oracle.check_sinks(oracle.written_sink_rows(out), self.expected, f"{engine} routed write")
        shutil.rmtree(out)
        return super().check(engine, result, i)


# --- streaming ---------------------------------------------------------------


def _stream_listener(progress: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _stream_exec_kind(ex: Execution) -> str:
    if "InsertIntoHadoopFsRelationCommand" in ex.plan:
        for kind in ("routed", "agg", "ledger"):
            if f"/{kind}/batch_id=" in ex.plan:
                return f"{kind}_write"
        return "other_write"
    if "/ledger" in ex.plan:
        return "ledger_read"
    return "metric_job"


class StreamLedger(Workload):
    name = "stream_ledger"
    # Micro-batch time against turns per file (4 vCPUs): 8k 1.01 s,
    # 32k 1.24 s, 125k 2.56 s, so about 0.9 s of a batch is fixed cost.
    # At 8k that fixed cost is ~90 % of a batch, which is what this
    # workload measures; a rep (one engine, two batches) takes 1.8-4.5 s
    # with the host's load, so a 16 s window holds 3-8.
    FILE_TURNS = 8_000
    N_FILES = 2

    def prepare(self) -> dict:
        self.src = os.path.join(self.dir, "src")
        self.warm = os.path.join(self.dir, "warm")
        turns = self.FILE_TURNS * self.N_FILES
        shape = inputs.write_transcripts(self.ctx.seed, turns, self.src, self.N_FILES)
        inputs.write_transcripts(self.ctx.seed, self.FILE_TURNS // 4, self.warm, 1, first_turn=turns)
        self.expected = oracle.flagship_expected(self.ctx.duck, self.src)
        self.progress: list[dict] = []
        return {"turns": turns, "files": self.N_FILES, **shape}

    def bind(self, spark) -> None:
        spark.streams.addListener(_stream_listener(self.progress))

    def _run(self, spark, src: str, out: str, engine: str):
        from log_formatter_spark.pipeline import PipelineOptions
        from log_formatter_spark.streaming.job import run_streaming_pipeline

        return run_streaming_pipeline(
            spark, src, os.path.join(out, "out"), os.path.join(out, "checkpoint"),
            PipelineOptions(engine=engine), max_files_per_trigger=1,
        )

    def warmup(self, spark, engines=SETUP_ENGINES) -> None:
        for engine in engines:
            out = os.path.join(self.dir, f"run-warm-{engine}")
            self._run(spark, self.warm, out, engine)
            shutil.rmtree(out)

    def _batches(self, n: int) -> list[dict]:
        """Progress events arrive on the listener bus after the query
        returns; wait for all ``n`` of them."""
        deadline = time.monotonic() + 10
        while len(self.progress) < n and time.monotonic() < deadline:
            time.sleep(0.02)
        if len(self.progress) < n:
            raise RuntimeError(f"{len(self.progress)} of {n} micro-batch progress events arrived")
        return list(self.progress[:n])

    def _stream_once(self, spark, engine: str, out: str, parts: dict) -> tuple[list, dict]:
        self.progress.clear()
        _timed(parts, engine, lambda: self._run(spark, self.src, out, engine))
        batches = self._batches(self.N_FILES)
        ledger = os.path.join(out, "out", "ledger")
        led = oracle.ledger_cumulatives(self.ctx.duck, ledger)
        oracle.check_ledger(led, self.expected)
        self.last_ledger = ledger
        return batches, led

    def rep(self, spark, i: int) -> Rep:
        """One streaming query over all input files, the engines taking
        turns from rep to rep (a rep per engine would leave a 20 s window
        two samples); its ledger is checked against the oracle."""
        shutil.rmtree(os.path.join(self.dir, f"run-{i - 1}"), ignore_errors=True)
        parts: dict = {}
        engine = ENGINES[i % 2]
        batches, led = self._stream_once(spark, engine, os.path.join(self.dir, f"run-{i}", engine), parts)
        sinks = {k[len("routed_"):]: v for k, v in led.items() if k.startswith("routed_")}
        return Rep(
            parts, self.FILE_TURNS * self.N_FILES,
            [float(b["triggerExecution"]) for b in batches],
            {"batches": batches, "sinks": sinks, "ledger": led},
        )

    def layers(self, rep: Rep, execs: list[Execution]) -> dict[str, float]:
        # each micro-batch is a root execution; the jobs foreachBatch runs
        # (writes, metric collects, ledger I/O) are nested in it
        jobs = [ex for ex in execs if ex.root_id != ex.id]
        out = flagship_layers(jobs)
        batches = rep.extra["batches"]
        n = len(batches)
        kinds: dict[str, float] = {}
        for ex in jobs:
            k = _stream_exec_kind(ex)
            kinds[k] = kinds.get(k, 0.0) + ex.wall_ms
        out["stream.sql_execs_per_batch"] = len(jobs) / n
        out["stream.add_batch_ms"] = statistics.median(b["addBatch"] for b in batches)
        out["stream.trigger_overhead_ms"] = statistics.median(
            b["triggerExecution"] - b["addBatch"] for b in batches
        )
        out["stream.routed_write_ms"] = kinds.get("routed_write", 0.0) / n
        out["stream.agg_write_ms"] = kinds.get("agg_write", 0.0) / n
        out["stream.metric_jobs_ms"] = kinds.get("metric_job", 0.0) / n
        out["stream.ledger_io_ms"] = (kinds.get("ledger_write", 0.0) + kinds.get("ledger_read", 0.0)) / n
        for sink, v in rep.extra["sinks"].items():
            out[f"route.rows.{sink}"] = float(v)
        led = rep.extra["ledger"]
        out["parser.parse_ok_ratio"] = led["rows_parsed"] / led["rows_in"]
        return out

    def probes(self, spark, window: list[Rep]) -> dict[str, float]:
        """MetricsLedger timed from outside on a copy of the newest
        run's ledger (recovery from disk, then appending batches); then
        the fanout layers and the other two catalog queries."""
        from log_formatter_spark.operators.route import DEFAULT_ROUTES
        from log_formatter_spark.streaming.ledger import MetricsLedger

        probe_dir = os.path.join(self.dir, "ledger-probe")
        shutil.copytree(self.last_ledger, probe_dir)
        counts = window[-1].extra["ledger"]
        out = {}
        with self.ctx.tracer.span("probe", layer="ledger"):
            out["ledger.recover_ms"] = 1000 * _median_time(
                lambda: MetricsLedger(spark, DEFAULT_ROUTES, probe_dir)
            )
            ledger = MetricsLedger(spark, DEFAULT_ROUTES, probe_dir)
            batch = iter(range(10_000, 10_100))
            out["ledger.record_batch_ms"] = 1000 * _median_time(
                lambda: ledger.record_batch(next(batch), counts)
            )
        pooled = [x for r in window for x in r.latencies_ms]
        out["stream.microbatch_p90_ms"] = (
            statistics.quantiles(pooled, n=10)[-1] if len(pooled) > 1 else pooled[0]
        )
        out.update(self.ctx.side_workload(BatchFanout(self.ctx), ("skew.", "sink.")))
        out.update(self.ctx.side_workload(
            CatalogQueries(self.ctx, ("line_dedup", "conv_curation")), ("catalog.",)
        ))
        return out


# --- catalog ---------------------------------------------------------------


class CatalogQueries(Workload):
    """Some of the catalog queries. Their DuckDB oracle takes about 40 s
    for ``dup_families`` and 15 s for the other two at sf0.1, so the
    queries are split over the two traced runs to keep each within the
    time a run may take."""

    name = "catalog_queries"
    N_DOCS, N_EVENTS, N_USERS = 5_000, 100_000, 1_500  # TESTDATA.md sf0.1
    WARM = (60, 1_000, 20)

    def __init__(self, ctx, queries: tuple[str, ...]):
        super().__init__(ctx)
        self.names = queries

    def prepare(self) -> dict:
        from log_formatter_spark import contract

        self.tables = os.path.join(self.dir, "tables")
        self.warm = os.path.join(self.dir, "warm")
        desc = inputs.write_catalog_tables(
            self.ctx.seed, self.tables, self.N_DOCS, self.N_EVENTS, self.N_USERS
        )
        inputs.write_catalog_tables(self.ctx.seed + 1, self.warm, *self.WARM)
        oracle.catalog_views(self.ctx.duck, self.tables)
        sql = contract.oracle_sql()
        # the DuckDB oracle runs beside the untimed warm-up, which waits for it
        pool = ThreadPoolExecutor(1)
        self._expected = pool.submit(
            lambda: {q: oracle.result_digest(self.ctx.duck.execute(sql[q]).df()) for q in self.names}
        )
        pool.shutdown(wait=False)
        self.queries = {q: contract.queries()[q] for q in self.names}
        return desc

    def warmup(self, spark, engines=SETUP_ENGINES) -> None:
        for q in self.names:
            self.queries[q](spark, self.warm).toPandas()
        self.expected = self._expected.result()

    def rep(self, spark, i: int) -> Rep:
        parts: dict = {}
        results = {
            q: _timed(parts, q, lambda q=q: self.queries[q](spark, self.tables).toPandas())
            for q in self.names
        }
        for q, pdf in results.items():
            oracle.check_digest(q, oracle.result_digest(pdf), self.expected[q])
        return Rep(parts, self.N_DOCS, [])

    def layers(self, rep: Rep, execs: list[Execution]) -> dict[str, float]:
        out = {}
        for q, (a, b, _) in rep.parts.items():
            out[f"catalog.{q}_s"] = b - a
            out[f"catalog.{q}.shuffle_bytes"] = shuffle_bytes(_during(execs, a, b))
        return out


WORKLOADS = {w.name: w for w in (BatchAgg, StreamLedger)}

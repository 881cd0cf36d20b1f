"""The streaming flagship: checkpoint-resumable parse → enrich → route →
aggregate over a transcript file stream.

Execution model vs the reference: the reference pumps docs through
bounded channels and can drop up to 2×1000 queued docs on shutdown
(agent/manager.go:81-88, agent/pipeline/pipeline.go:107-123). Here every
micro-batch is exactly-once:

- offsets live in the checkpoint (``checkpointLocation``);
- every per-batch artifact (routed rows, partial aggregates, ledger) is
  written under ``batch_id=<id>`` directories with overwrite semantics,
  so a replayed batch rewrites byte-identical output instead of
  appending twice — the multi-sink-atomicity answer from SURVEY.md §7.3.

Aggregation strategy: per-batch *partial* hash aggregates are persisted,
and the final counts are an idempotent sum over partials at read time
(``read_final_aggregates``). This keeps state out of the streaming query
(no state store growth at 10^12 turns) while staying exactly equal to
the batch pipeline's aggregates. The watermarked windowed variant for
genuinely unbounded late data is ``streaming_hourly_counts``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from log_formatter_spark.operators.aggregate import sink_aggregates
from log_formatter_spark.operators.parser import PARSE_OK
from log_formatter_spark.operators.route import DEFAULT_ROUTES, ROUTE
from log_formatter_spark.pipeline import PipelineOptions, parsed_enriched_routed
from log_formatter_spark.streaming.ledger import MetricsLedger

# input_hint schema (BASELINE.json)
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over transcript parquet (the sandbox stand-in
    for the Kafka/Iceberg streaming source; the reader is swappable via
    sources/readers.py)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def write_ordered_slices(path: str, *slices: DataFrame) -> None:
    """Write DataFrame slices into ``path`` as sequential single-file
    parquet appends with STRICTLY increasing modification times pinned
    on each slice's data files (10 s apart, via ``os.utime``).

    The file stream source feeds files to triggers in mtime order.
    Sequential writes usually produce that order for free, but on
    filesystems and object stores with coarse mtime granularity two
    back-to-back writes can TIE — the source may then deliver the late
    slice first, and order-asserting stateful operators (e.g.
    streaming_tool_pairs) raise an environment-sensitive flake
    (ADVICE r4). Every multi-slice streaming fixture goes through this
    helper so the intended trigger order is explicit, not incidental.
    """
    import glob
    import time

    seen: set[str] = set()
    groups: list[set[str]] = []
    for df in slices:
        df.coalesce(1).write.mode("append").parquet(path)
        files = set(glob.glob(os.path.join(path, "*.parquet"))) - seen
        seen |= files
        groups.append(files)
    base = time.time() - 10.0 * len(groups)
    for i, files in enumerate(groups):
        for f in files:
            os.utime(f, (base + 10.0 * i, base + 10.0 * i))


def _routed_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "routed")


def _agg_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "agg")


def run_streaming_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    opts: PipelineOptions = PipelineOptions(),
    max_files_per_trigger: int | None = None,
) -> MetricsLedger:
    """Run the flagship DAG over all currently-available input
    (Trigger.AvailableNow), resumable from ``checkpoint_dir``.

    Returns the ledger; per-sink tables land under
    ``out/routed/batch_id=*/route=*/`` (partition-pruned reads via
    read_routed_stream_output).
    """
    ledger = MetricsLedger(
        spark, DEFAULT_ROUTES, os.path.join(out_dir, "ledger")
    )
    stream = stream_transcripts(spark, src_dir, max_files_per_trigger)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = parsed_enriched_routed(spark, batch_df, opts).persist()
        try:
            # 1. multi-sink fan-out: ONE partitioned write, per-sink dirs;
            # the ledger counts ride on it. The Observation sits above the
            # cached frame, so the agg write's cache read cannot fire it.
            obs = Observation()
            (
                routed.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows_in"),
                    F.count_if(F.col(PARSE_OK)).alias("rows_parsed"),
                    *[F.count_if(F.col(ROUTE) == r).alias(f"routed_{r}") for r in DEFAULT_ROUTES],
                )
                .write.mode("overwrite")
                .partitionBy(ROUTE)
                .parquet(os.path.join(_routed_dir(out_dir), f"batch_id={batch_id}"))
            )
            # 2. partial per-sink aggregates for this batch
            (
                sink_aggregates(routed)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(_agg_dir(out_dir), f"batch_id={batch_id}"))
            )
            counts = obs.get
            counts["rows_discarded"] = counts["rows_in"] - counts["rows_parsed"]
            ledger.record_batch(batch_id, counts)
        finally:
            routed.unpersist()

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ledger


def read_routed_stream_output(
    spark: SparkSession, out_dir: str, route: str | None = None
) -> DataFrame:
    base = _routed_dir(out_dir)
    df = spark.read.option("basePath", base).parquet(base)
    if route is not None:
        df = df.where(df[ROUTE] == route)
    return df


def read_final_aggregates(spark: SparkSession, out_dir: str) -> DataFrame:
    """Exactly-once final counts: sum of per-batch partial aggregates."""
    base = _agg_dir(out_dir)
    df = spark.read.option("basePath", base).parquet(base)
    return df.groupBy(ROUTE, "role", "tool", "hour").agg(F.sum("n").alias("n"))


def streaming_hourly_counts(
    transcripts_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts for unbounded late-data streams
    (`window` + watermark bound the state store; late rows beyond the
    watermark are dropped deterministically)."""
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

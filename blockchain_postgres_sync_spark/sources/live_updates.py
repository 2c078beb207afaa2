"""Live blockchain-update sources (S1): the gRPC-subscription analog.

The reference consumes a gRPC ``Subscribe(from_height)`` stream of
BlockchainUpdated events (src/lib/consumer/updates.rs:33-78) and re-frames
them into micro-batches.  Spark-first, the subscription is a streaming
SOURCE and the micro-batcher is the engine's trigger:

- ``file_updates``: one JSON file ≈ one delivered batch (the default the
  pipeline and benches use — replayable, checkpoint-friendly).
- ``socket_updates``: newline-delimited JSON update frames over TCP — the
  live-subscription shape, for a bridge process that speaks gRPC upstream
  and writes frames downstream.  Spark's socket source is single-connection
  / at-most-once (no replay on restart), so production deployments put a
  durable log (Kafka: ``spark.readStream.format("kafka")`` + the same
  ``parse_update_lines``) between the chain node and the engine; the socket
  form exists so the whole pipeline can run against a live feed with zero
  extra infrastructure.

Both yield the same RAW_UPDATE-typed frames, so everything downstream
(ingest.extract_*, streaming.pipeline.process_batch) is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import RAW_UPDATE


def parse_update_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode newline-delimited JSON update frames into RAW_UPDATE rows.
    Malformed lines yield a NULL struct and are dropped (the reference
    terminates on a malformed frame; a stream source instead skips and
    counts — surface via the probe's metrics)."""
    parsed = lines.select(
        F.from_json(F.col(value_col), RAW_UPDATE).alias("u")
    )
    # PERMISSIVE from_json maps malformed input to an all-NULL struct, so
    # gate on the fields every well-formed frame must carry
    return parsed.filter(
        F.col("u.seq").isNotNull() & F.col("u.kind").isNotNull()
    ).select("u.*")


#: the column shape Spark's kafka source emits (what decode_kafka_frames
#: consumes) — pinned here so tests can mock the source without a broker
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def decode_kafka_frames(raw: DataFrame) -> DataFrame:
    """Kafka-shaped frames (binary ``value`` holding one UTF-8 JSON update
    per record) → RAW_UPDATE rows, through the SAME decoder as the socket
    path.  Works identically on the real ``format("kafka")`` stream and on
    any batch frame with :data:`KAFKA_SOURCE_SCHEMA` (how the parity test
    runs without a broker)."""
    return parse_update_lines(
        raw.select(F.col("value").cast("string").alias("value"))
    )


def kafka_updates(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Durable-log subscription: ``format("kafka")`` + the shared frame
    decoder.  This is the production S1 shape (replayable, partition-offset
    checkpointing); requires the spark-sql-kafka connector jar on the
    cluster — not shipped in this sandbox, hence the decode seam is the
    tested surface (tests/test_live_updates.py::test_kafka_frame_decode
    _matches_socket_path)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_kafka_frames(raw)


def file_updates(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S2 micro-batcher over a directory of JSON update files."""
    return (
        spark.readStream.schema(RAW_UPDATE)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(events_dir)
    )


def socket_updates(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Live TCP feed of newline-delimited JSON update frames."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return parse_update_lines(lines)

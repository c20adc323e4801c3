"""Structured Streaming wiring (SURVEY §2.10): source -> transforms ->
foreachBatch persist, with checkpointing, availableNow backfill, and a
dead-letter path.

Kafka wiring (S4/S6) is expressed but not exercisable in this container
(no broker, and the Kafka connector jar ships separately); the file
source drives the same code path — the transforms are source-agnostic
DataFrame functions throughout.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def kafka_envelope_source(
    spark: SparkSession, brokers: str, topics: str, starting_offsets: str = "latest"
) -> DataFrame:
    """S6: Kafka consumer source. ``value`` is the envelope JSON,
    ``key`` the "Model:id" record key (NULL value = tombstone)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
    )


def kafka_envelope_sink(
    df: DataFrame, brokers: str, topic: str, checkpoint: str
) -> StreamingQuery:
    """S4: Kafka producer sink; expects ``key``/``value`` string cols."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def file_envelope_source(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based envelope stream: one JSON envelope per line (the local
    stand-in for a Kafka topic; same ``value`` column contract)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_consumer_streams(
    spark: SparkSession,
    registry,
    base_dir: str,
    checkpoint_dir: str,
    sinks_by_topic: dict[str, dict],
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> dict[str, StreamingQuery]:
    """One streaming query per declared consumer topic (the analogue of
    the reference's generated per-topic Karafka consumers,
    lib/dionysus.rb:113-129): each topic reads ``{base_dir}/{topic}``
    with its own checkpoint, schema, deserializer config, and sinks.
    Independent queries = independent progress/backpressure per topic,
    exactly like consumer-group partitions."""
    queries: dict[str, StreamingQuery] = {}
    for name, decl in registry.topics.items():
        queries[name] = run_consumer_stream(
            spark,
            f"{base_dir}/{decl.topic}",
            f"{checkpoint_dir}/{decl.topic}",
            decl.schema,
            decl.entity,
            sinks_by_topic[name],
            cfg=decl.deserializer_cfg,
            polymorphic_types=decl.polymorphic_types or None,
            available_now=available_now,
            max_files_per_trigger=max_files_per_trigger,
            batch_transformation=decl.batch_transformation,
            message_filters=decl.message_filters,
        )
    return queries


def with_retries(
    batch_fn: Callable[[DataFrame, int], None],
    max_attempts: int = 3,
    backoff_base_seconds: float = 0.5,
    on_give_up: Callable[[DataFrame, int, Exception], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """T9 retry provider (README.md:804-852; consumer config.rb:63-69):
    wrap a foreachBatch body with bounded retries + exponential backoff.
    Exhausted batches go to ``on_give_up`` (dead-letter the batch) or
    re-raise — re-raising fails the streaming query, and the checkpoint
    replays the batch on restart (at-least-once into an idempotent MERGE,
    so retrying is always safe)."""
    import time as _time

    def wrapped(df: DataFrame, batch_id: int) -> None:
        for attempt in range(max_attempts):
            try:
                batch_fn(df, batch_id)
                return
            except Exception as exc:  # noqa: BLE001 - boundary wrapper
                if attempt + 1 >= max_attempts:
                    if on_give_up is not None:
                        on_give_up(df, batch_id, exc)
                        return
                    raise
                _time.sleep(backoff_base_seconds * (2**attempt))

    return wrapped


def run_foreach_batch(
    source: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None],
    available_now: bool = True,
) -> StreamingQuery:
    """foreachBatch runner: checkpointed, availableNow for backfill
    catch-up (T6) or Spark's default trigger (next batch as soon as the
    previous one commits) for continuous runs. The batch_fn must be
    idempotent (T1: at-least-once delivery into an idempotent MERGE =
    effectively exactly-once)."""
    writer = source.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_consumer_stream(
    spark: SparkSession,
    input_path: str,
    checkpoint: str,
    snapshot_schema: StructType,
    entity: str,
    sinks: dict,
    cfg=None,
    polymorphic_types: dict[str, list[str]] | None = None,
    dead_letter_store=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    batch_transformation: Callable[[DataFrame], DataFrame] | None = None,
    message_filters: tuple[Callable[[DataFrame], "Column"], ...] = (),
) -> StreamingQuery:
    """The full consumer pipeline under streaming: file/Kafka envelope
    source -> per-topic batch transformation + message filters ->
    persist_batch per micro-batch (D1-D7 + F1/F3/F8 + MERGE).

    ``batch_transformation`` is the reference's per-topic
    ``params_batch_transformation`` (consumer/registry.rb:78-81) — a
    DataFrame->DataFrame hook on the raw wire batch (the default there is
    A1 dedup; our persist path already A1-dedups inside the MERGE, so no
    default here). ``message_filters`` (F4, config.rb:93-105) are
    predicate builders; matching rows are diverted to the dead-letter
    store instead of persisted."""
    from pyspark.sql import functions as F

    from ..consumer.persistor import persist_batch

    source = file_envelope_source(spark, input_path, max_files_per_trigger)

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        if message_filters:
            ignore = F.lit(False)
            for flt in message_filters:
                ignore = ignore | flt(df)
            ignored = df.filter(ignore)
            if dead_letter_store is not None and ignored.limit(1).count():
                dead_letter_store.append(
                    spark,
                    ignored.select(F.lit(None).cast("string").alias("event"), "value"),
                )
            df = df.filter(~ignore)
        if batch_transformation is not None:
            df = batch_transformation(df)
        persist_batch(
            spark,
            df,
            snapshot_schema,
            entity,
            sinks,
            cfg,
            polymorphic_types,
            dead_letter_store,
        )

    return run_foreach_batch(source, checkpoint, batch_fn, available_now)

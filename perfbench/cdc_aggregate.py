"""Workload ``cdc_roundtrip_aggregate``: closed-loop catch-up of a nested
aggregate, producer to replica.

A generated change log of Rental aggregates, each carrying a has_one
``account`` and a has_many ``bookings`` list, is published with
``publish_changelog`` (one file per event, as the producer writes today)
and replayed through ``run_consumer_stream`` with ``availableNow`` and a
fixed ``maxFilesPerTrigger`` into three initially empty stores (rentals,
accounts, bookings). The whole log is the backlog. An event's latency runs
from when the producer wrote its file to the commit of the batch that read
it.

Each event of the log picks a rental uniformly at random: its first pick
creates it, every later pick publishes a new version. So a rental has ~3
versions, and versions of one rental often land in the same micro-batch,
as they do in a real backlog. A version changes the price, cancels a live
rental or restores one canceled before (so the producer suppresses
nothing), drops, adds and modifies bookings (a list may become empty) and
renames the account. The bookings list is a per-version column serialized
as a declared attribute: the producer's ``ChildRel`` sideload joins a
static child table and cannot express a child set that changes between
versions of one change log.

The expected replica is what the reference gets by applying the log's
messages one by one: the last version of every rental and its bookings,
and for every account the last version that carried it. Account rows are
compared without ``synced_parent_id``, which names whichever rental wrote
the account last.
"""

from __future__ import annotations

import os
import sys
import time
from datetime import datetime, timedelta

import numpy as np

import cdc_common as cc
import harness

N_RENTALS = 150
N_EVENTS = 450  # read in 3 batches
N_ACCOUNTS = 40
MAX_FILES_PER_TRIGGER = 150
CANCEL_P = 0.08
WARMUP_RENTALS = 10
T0 = datetime(2024, 3, 1)
STATUSES = ("requested", "confirmed", "paid", "checked_in")
ENTITY = "rental"


def schema():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    account = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("updated_at", StringType()),
        ]
    )
    booking = StructType(
        [
            StructField("id", LongType()),
            StructField("updated_at", StringType()),
            StructField("status", StringType()),
            StructField("nights", LongType()),
        ]
    )
    return StructType(
        [
            StructField("id", LongType()),
            StructField("updated_at", StringType()),
            StructField("canceled_at", StringType()),
            StructField("price", DoubleType()),
            StructField("account_id", LongType()),
            StructField("account", account),
            StructField("bookings", ArrayType(booking)),
        ]
    )


CHANGELOG_DDL = (
    "seq BIGINT, id BIGINT, updated_at STRING, canceled_at STRING, price DOUBLE,"
    " account_id BIGINT, account STRUCT<id: BIGINT, name: STRING, updated_at: STRING>,"
    " bookings ARRAY<STRUCT<id: BIGINT, updated_at: STRING, status: STRING, nights: BIGINT>>"
)


def _ts(seconds: int) -> str:
    return (T0 + timedelta(seconds=int(seconds))).strftime("%Y-%m-%d %H:%M:%S")


def _new_booking(rng, booking_id: int, ts: str) -> tuple:
    return (booking_id, ts, STATUSES[int(rng.integers(0, 4))], int(rng.integers(1, 15)))


def generate(seed: int, n_rentals: int, n_events: int) -> tuple[list[tuple], dict]:
    """Change-log rows (seq order) and the expected end state."""
    rng = np.random.default_rng(seed)
    ids = [int(x) for x in rng.choice(10 * n_rentals, size=n_rentals, replace=False) + 1]
    accounts = {r: int(rng.integers(0, N_ACCOUNTS)) + 1 for r in ids}
    next_booking = 1
    current: dict[int, dict] = {}
    account_state: dict[int, tuple] = {}
    rows: list[tuple] = []
    for seq in range(1, n_events + 1):
        r = ids[int(rng.integers(0, n_rentals))]
        ts = _ts(seq)
        prev = current.get(r)
        if prev is None:
            books = []
            for _ in range(int(rng.integers(1, 5))):
                books.append(_new_booking(rng, next_booking, ts))
                next_booking += 1
            canceled = None
        else:
            books = list(prev["bookings"])
            if books and rng.random() < 0.35:
                books.pop(int(rng.integers(0, len(books))))
            if rng.random() < 0.3:
                books.append(_new_booking(rng, next_booking, ts))
                next_booking += 1
            if books and rng.random() < 0.5:
                j = int(rng.integers(0, len(books)))
                b = books[j]
                books[j] = (b[0], ts, STATUSES[int(rng.integers(0, 4))], b[3])
            if prev["canceled_at"] is not None:
                canceled = None  # restore: the producer suppresses still-canceled
            else:
                canceled = ts if rng.random() < CANCEL_P else None
        a = accounts[r]
        account = (a, f"account-{a}-v{seq}", ts)
        account_state[a] = account[1:]
        current[r] = {
            "updated_at": ts,
            "canceled_at": canceled,
            "price": float(round(rng.uniform(40, 900), 2)),
            "account_id": a,
            "bookings": books,
        }
        rows.append(
            (seq, r, ts, canceled, current[r]["price"], a, account, [tuple(b) for b in books])
        )
    expected = {
        "rental": {
            r: (v["price"], v["account_id"], v["updated_at"], v["canceled_at"])
            for r, v in current.items()
        },
        "account": account_state,
        "booking": {
            b[0]: (r, b[1], b[2], b[3]) for r, v in current.items() for b in v["bookings"]
        },
    }
    return rows, expected


def read_replica(spark, stores) -> dict[str, dict]:
    from pyspark.sql import functions as F

    def fmt(c):
        return F.date_format(c, cc.TS_FMT)

    def rows(store, cols):
        df = store.read(spark)
        return [] if df is None else df.select(*cols).collect()

    out = {"rental": {}, "account": {}, "booking": {}}
    for r in rows(
        stores["rental"],
        [
            "synced_id", "price", "account_id", fmt("synced_updated_at").alias("u"),
            fmt("synced_canceled_at").alias("c"),
            F.get_json_object("synced_data", "$.id").cast("long").alias("d"),
        ],
    ):
        row = (r["price"], r["account_id"], r["u"], r["c"])
        out["rental"][r["synced_id"]] = row if r["d"] == r["synced_id"] else row + ("data",)
    for r in rows(stores["account"], ["synced_id", "name", fmt("synced_updated_at").alias("u")]):
        out["account"][r["synced_id"]] = (r["name"], r["u"])
    for r in rows(
        stores["booking"],
        ["synced_id", "synced_parent_id", fmt("synced_updated_at").alias("u"), "status", "nights"],
    ):
        out["booking"][r["synced_id"]] = (r["synced_parent_id"], r["u"], r["status"], r["nights"])
    return out


def _flatten(replica: dict[str, dict]) -> dict:
    """One dict keyed by (entity, synced_id) across the three stores."""
    return {(e, k): v for e, rows in replica.items() for k, v in rows.items()}


def _registry():
    from dionysus_rb_spark.registry import ProducerRegistry, PublicationDecl

    reg = ProducerRegistry(namespace="bench")
    reg.topic("rentals", partition_key="account_id")
    reg.publish(
        "rentals",
        PublicationDecl(
            resource="rental",
            attributes=("updated_at", "canceled_at", "price", "account_id", "account", "bookings"),
        ),
    )
    return reg


def _roundtrip(
    spark, base: str, rows: list[tuple], stores, dlq, tag: str, max_files: int
) -> dict:
    """Publish the log, then replay it to the end. Returns timings. The
    publish jobs run in job group ``pb:publish:<tag>``."""
    from dionysus_rb_spark.consumer.persistor import EntitySink
    from dionysus_rb_spark.producer.pipeline import publish_changelog
    from dionysus_rb_spark.streaming.pipeline import run_consumer_stream

    sc = spark.sparkContext
    log_df = spark.createDataFrame(rows, CHANGELOG_DDL)
    sc.setJobGroup(f"pb:publish:{tag}", "publish_changelog")
    t_pub = time.time()
    try:
        res = publish_changelog(
            _registry(), "rentals", "rental", log_df, os.path.join(base, "topics")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    publish_s = time.time() - t_pub
    cp = os.path.join(base, "cp")
    query_start = time.time()
    q = run_consumer_stream(
        spark,
        res.topic_dir,
        cp,
        schema(),
        ENTITY,
        {e: EntitySink(s) for e, s in stores.items()},
        dead_letter_store=dlq,
        available_now=True,
        max_files_per_trigger=max_files,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(f"consumer stream failed: {exc}")
    files = sorted(os.listdir(res.topic_dir))
    # publish_changelog stamps each file's mtime with its sequence number;
    # the inode change time that stamp leaves is when the file was written
    written = {f: os.stat(os.path.join(res.topic_dir, f)).st_ctime_ns / 1e9 for f in files}
    return {
        "t_pub": t_pub,
        "publish_s": publish_s,
        "published": res.n_events,
        "topic_dir": res.topic_dir,
        "files": files,
        "written": written,
        "cp": cp,
        "query_start": query_start,
        "query_id": str(q.id),
    }


def _stores(base: str, trace):
    return {
        e: cc.make_store("bucketed", os.path.join(base, e), trace, num_buckets=4)
        for e in ("rental", "account", "booking")
    }


def run_pass(
    session, seed: int, seconds: float, traced: bool, setup_reps: int, corrupt: bool = False
) -> dict:
    """One pass: set up (generate the log ``setup_reps`` times, then warm
    the path with a small round trip of its own), one measured catch-up
    from empty stores, then the check. Each pass warms up: a pass of the
    traced run starts on a new SparkContext, with its own Python workers.
    ``seconds`` does not size this closed loop: it replays one fixed log."""
    from dionysus_rb_spark.streaming.monitor import ProgressMonitor

    spark = session.spark
    root = os.path.join(harness.WORK, f"agg_{time.monotonic_ns()}")
    setup_times = []
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        rows, expected = generate(seed, N_RENTALS, N_EVENTS)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    # two batches, so the merge into non-empty stores is warm too
    warm_rows, _ = generate(seed + 1, WARMUP_RENTALS, 2 * WARMUP_RENTALS)
    warm = os.path.join(root, "warm")
    _roundtrip(spark, warm, warm_rows, _stores(warm, None), None, "warm-up", WARMUP_RENTALS)
    warmup_s = time.perf_counter() - t0

    base = os.path.join(root, "run")
    store_trace: list[cc.StoreCall] | None = [] if traced else None
    stores = _stores(base, store_trace)
    dlq = cc.make_store("plain", os.path.join(base, "dlq"), store_trace)
    monitor = ProgressMonitor() if traced else None
    if monitor is not None:
        spark.streams.addListener(monitor)
    try:
        rt = _roundtrip(spark, base, rows, stores, dlq, "measured", MAX_FILES_PER_TRIGGER)
    finally:
        if monitor is not None:
            spark.streams.removeListener(monitor)
    log = cc.read_checkpoint(rt["cp"])
    due = {f: (rt["written"][f], 1) for f in rt["files"]}
    lat, missing = cc.latencies_ms(log, due)
    last_commit = max(log.commit_time.values())

    if corrupt:
        cc.corrupt_one_row(spark, stores["rental"])
    replica, want = _flatten(read_replica(spark, stores)), _flatten(expected)
    bad_rows = cc.count_mismatches(replica, want)
    dl = dlq.read(spark)
    dead = dl.count() if dl is not None else 0
    gate_ok = cc.gate_catches_corruption(replica, want)
    attempted = len(rows)
    failed = min(attempted, bad_rows + dead + missing + abs(rt["published"] - len(rows)))
    p50, p99 = cc.latency_summary(lat) if lat else (float("nan"),) * 2
    total = last_commit - rt["t_pub"]
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and gate_ok,
        "setup_reps_s": setup_times,
        "setup_s": harness.median(setup_times) + warmup_s,
        "warmup_s": warmup_s,
        "e2e": {
            "throughput_per_s": len(rows) / total,
            "latency_ms_p50": p50,
            "latency_ms_p99": p99,
            "total_s": total,
        },
        "detail": {
            "events_measured": len(rows),
            "events_streamed": len(rows),
            "rentals": N_RENTALS,
            "expected_rows": {e: len(v) for e, v in expected.items()},
            "latencies_ms": sorted(round(x) for x in lat),
            "mismatched_rows": bad_rows,
            "mismatch_kinds": cc.mismatch_kinds(replica, want),
            "dead_lettered": dead,
            "uncommitted_events": missing,
            "gate_self_test": gate_ok,
            "publish_s": rt["publish_s"],
            "batch_s": [round(s, 3) for s in cc.batch_busy_s(log, set(log.commit_time)).values()],
        },
        "layer_extra": {
            "producer.pipeline.publish_s": rt["publish_s"],
            "producer.pipeline.events_published": float(rt["published"]),
            "producer.pipeline.files_written": float(len(rt["files"])),
            "consumer.persistor.dead_lettered": float(dead),
        },
        "store": stores["rental"],
        "replay_files": [
            os.path.join(rt["topic_dir"], f) for f in rt["files"][: cc.REPLAY_EVENTS]
        ],
        "extra_usage_label": "publish:measured",
        "stream": {
            "monitor": monitor,
            "log": log,
            "store_trace": store_trace,
            "query_start": rt["query_start"],
            "query_id": rt["query_id"],
        },
    }


def measure(session, seed, seconds, session_start_s, corrupt):
    return cc.measure(sys.modules[__name__], session, seed, seconds, session_start_s, corrupt)


def trace(session, seed, seconds, session_start_s):
    return cc.trace(sys.modules[__name__], session, seed, seconds, session_start_s)


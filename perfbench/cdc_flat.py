"""Workload ``cdc_flat_steady``: open-loop replica freshness.

A flat Rental entity streams into a pre-seeded ``BucketedSnapshotStore``
through ``run_consumer_stream`` with Spark's default trigger. A generator
thread, separate from the consumer, renames pre-built envelope files into
the watched directory on a fixed schedule that does not slow down when the
consumer does. Each event's latency runs from the time its file was due
to the mtime of the ``commits/`` entry of the batch that read it.

Event mix over zipf-skewed keys: updates (some of them restoring a
soft-deleted row), creates of new keys, soft destroys (payload carries
``canceled_at``), hard destroys (no stamp; the key is never used again),
stale updates older than the key's current version, and unknown event
names that must land in the dead-letter store.

The expected replica is computed here, in plain Python, by applying the
events one by one in arrival order under the reference's rules (guard:
an event applies iff its ``updated_at`` is not older than the stored
one; a destroy without stamp deletes, with stamp cancels; an unseen key
inserts unless hard-destroyed). The generator keeps the log free of
orderings whose outcome depends on how events are grouped into
micro-batches, so the sequential answer is the only right one.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

import cdc_common as cc
import harness

N_SEED = 10_000
NUM_BUCKETS = 16
FILE_EVENTS = 10  # events per envelope file
ENVELOPE_EVENTS = 5  # events per wire record (line) within a file
PERIOD_S = 0.5  # one file every 500 ms: 20 events/s offered
# Warm-up, unmeasured: after the seeding streams, a fixed number of
# one-file batches, each committed before the next file lands, so every
# run enters the open loop with the same JIT exposure (batches speed up
# over the first batches, and an open loop would run more of them on a
# faster host); then the schedule's first seconds, which bring the loop
# to its steady batch size.
WARMUP_BATCHES = 3
WARMUP_S = 2.0
ZIPF_S = 1.1
MIX = (  # (kind, share)
    ("update", 0.79),
    ("create", 0.06),
    ("soft_destroy", 0.04),
    ("hard_destroy", 0.03),
    ("stale_update", 0.07),
    ("unknown", 0.01),
)
T_SEED = datetime(2024, 1, 1)
T_EVENTS = datetime(2024, 2, 1)
STATUSES = ("booked", "available", "blocked", "maintenance")
OFFERED_RATE = FILE_EVENTS / PERIOD_S
ENTITY = "rental"


def schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("id", LongType()),
            StructField("updated_at", StringType()),
            StructField("canceled_at", StringType()),
            StructField("price", DoubleType()),
            StructField("account_id", LongType()),
            StructField("status", StringType()),
        ]
    )


def _ts(base: datetime, seconds: int) -> str:
    return (base + timedelta(seconds=int(seconds))).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Inputs:
    genesis: list[str]  # envelope lines creating the seeded rows
    files: list[list[str]]  # per file: its envelope lines (warm-up first)
    expected: dict[int, tuple]  # id -> (price, account_id, status, updated_at, canceled_at)
    unknown: int
    n_events: int
    kinds: dict[str, int] = field(default_factory=dict)


def generate(seed: int, n_files: int) -> Inputs:
    """Deterministic in (seed, n_files)."""
    rng = np.random.default_rng(seed)
    state: dict[int, tuple] = {}
    genesis_events = []
    for i in range(N_SEED):
        snap = {
            "id": i,
            "updated_at": _ts(T_SEED, i % 86_400),
            "canceled_at": None,
            "price": float(round(rng.uniform(50, 500), 2)),
            "account_id": int(rng.integers(0, 2_000)),
            "status": STATUSES[int(rng.integers(0, len(STATUSES)))],
        }
        genesis_events.append(("rental_created", "Rental", snap))
        state[i] = (snap["price"], snap["account_id"], snap["status"], snap["updated_at"], None)
    genesis = [
        cc.envelope(genesis_events[j : j + 100]) for j in range(0, N_SEED, 100)
    ]

    ranks = 1.0 / np.arange(1, N_SEED + 1) ** ZIPF_S
    perm = rng.permutation(N_SEED)
    total = n_files * FILE_EVENTS
    hot = perm[rng.choice(N_SEED, size=4 * total + 64, p=ranks / ranks.sum())]
    hot_i = 0
    retired: set[int] = set()  # hard-destroyed keys: no later events
    next_id = N_SEED
    kinds = {k: 0 for k, _ in MIX}
    names, shares = zip(*MIX)
    drawn = rng.choice(len(names), size=total, p=np.array(shares) / sum(shares))
    unknown = 0
    events: list[tuple[str, str, dict]] = []
    for n, k in enumerate(drawn):
        kind = names[k]
        ts = _ts(T_EVENTS, n)
        price = float(round(rng.uniform(50, 500), 2))
        status = STATUSES[int(rng.integers(0, len(STATUSES)))]
        if kind == "create":
            key, next_id = next_id, next_id + 1
            acct = int(rng.integers(0, 2_000))
        else:
            while True:
                key = int(hot[hot_i])
                hot_i += 1
                if key not in retired:
                    break
            acct = state[key][1] if key in state else int(rng.integers(0, 2_000))
        snap = {
            "id": key,
            "updated_at": ts,
            "canceled_at": None,
            "price": price,
            "account_id": acct,
            "status": status,
        }
        event = "rental_updated"
        if kind == "create":
            event = "rental_created"
        elif kind == "soft_destroy":
            event = "rental_destroyed"
            snap["canceled_at"] = ts
        elif kind == "hard_destroy":
            event = "rental_destroyed"
            retired.add(key)
        elif kind == "stale_update":
            cur = state[key][3]
            older = datetime.strptime(cur, "%Y-%m-%d %H:%M:%S") - timedelta(
                seconds=int(rng.integers(1, 3_600))
            )
            snap["updated_at"] = older.strftime("%Y-%m-%d %H:%M:%S")
        elif kind == "unknown":
            event = "rental_frobbed"
            unknown += 1
        kinds[kind] += 1
        events.append((event, "Rental", snap))
        _apply(state, event, snap)

    files = []
    for f in range(n_files):
        chunk = events[f * FILE_EVENTS : (f + 1) * FILE_EVENTS]
        files.append(
            [
                cc.envelope(chunk[j : j + ENVELOPE_EVENTS])
                for j in range(0, len(chunk), ENVELOPE_EVENTS)
            ]
        )
    return Inputs(genesis, files, state, unknown, total, kinds)


def _apply(state: dict[int, tuple], event: str, snap: dict) -> None:
    """One event under the reference's persist rules."""
    action = event.rsplit("_", 1)[1]
    if action not in ("created", "updated", "destroyed"):
        return
    key = snap["id"]
    hard = action == "destroyed" and snap["canceled_at"] is None
    row = (snap["price"], snap["account_id"], snap["status"], snap["updated_at"], snap["canceled_at"])
    if key in state:
        if snap["updated_at"] >= state[key][3]:
            if hard:
                del state[key]
            else:
                state[key] = row
    elif not hard:
        state[key] = row


def read_replica(spark, store) -> dict[int, tuple]:
    from pyspark.sql import functions as F

    df = store.read(spark).select(
        "synced_id",
        "price",
        "account_id",
        "status",
        F.date_format("synced_updated_at", cc.TS_FMT).alias("u"),
        F.date_format("synced_canceled_at", cc.TS_FMT).alias("c"),
        F.get_json_object("synced_data", "$.id").cast("long").alias("data_id"),
    )
    out = {}
    for r in df.collect():
        row = (r["price"], r["account_id"], r["status"], r["u"], r["c"])
        if r["data_id"] != r["synced_id"]:
            row = row + ("synced_data mismatch",)
        out[r["synced_id"]] = row
    return out


class Generator(threading.Thread):
    """Open-loop load: renames file i into the watched directory at
    ``t0 + i * period`` whether or not the consumer keeps up, and
    records how late each rename ran."""

    def __init__(self, staged: list[str], watched: str, t0: float, period: float):
        super().__init__(daemon=True)
        self.staged, self.watched, self.t0, self.period = staged, watched, t0, period
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, src in enumerate(self.staged):
                due = self.t0 + i * self.period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(src, os.path.join(self.watched, os.path.basename(src)))
                self.late_ms.append((time.time() - due) * 1e3)
        except BaseException as exc:  # noqa: BLE001 - surfaced by the caller
            self.error = exc


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _seed_store(spark, base: str, inputs: Inputs):
    """Seed a fresh store through the consumer path: a genesis topic of
    create envelopes replayed with availableNow."""
    from dionysus_rb_spark.consumer.persistor import EntitySink
    from dionysus_rb_spark.streaming.pipeline import run_consumer_stream

    os.makedirs(base)
    genesis = os.path.join(base, "genesis")
    os.makedirs(genesis)
    per = (len(inputs.genesis) + 7) // 8
    for j in range(8):
        _write_lines(
            os.path.join(genesis, f"g{j}.jsonl"), inputs.genesis[j * per : (j + 1) * per]
        )
    store = cc.make_store(
        "bucketed", os.path.join(base, "rentals"), None, num_buckets=NUM_BUCKETS
    )
    q = run_consumer_stream(
        spark,
        genesis,
        os.path.join(base, "cp_genesis"),
        schema(),
        ENTITY,
        {ENTITY: EntitySink(store)},
        available_now=True,
    )
    q.awaitTermination()
    return store


def _wait_committed(cp: str, names: set[str], timeout: float) -> cc.CheckpointLog:
    deadline = time.time() + timeout
    while True:
        log = cc.read_checkpoint(cp)
        done = {n for n, b in log.batch_of_file().items() if b in log.commit_time}
        if names <= done or time.time() > deadline:
            return log
        time.sleep(0.2)


def run_pass(
    session, seed: int, seconds: float, traced: bool, setup_reps: int, corrupt: bool = False
) -> dict:
    """One full pass: set up (``setup_reps`` times; the last set-up is
    used), warm up (``WARMUP_BATCHES`` one-file batches, then ``WARMUP_S``
    of open loop whose events are not measured), stream for ``seconds``,
    drain, check."""
    from dionysus_rb_spark.consumer.persistor import EntitySink
    from dionysus_rb_spark.streaming.monitor import ProgressMonitor
    from dionysus_rb_spark.streaming.pipeline import run_consumer_stream

    spark = session.spark
    n_measured = max(1, int(round(seconds / PERIOD_S)))
    n_warm = int(round(WARMUP_S / PERIOD_S))
    root = os.path.join(harness.WORK, f"flat_{time.monotonic_ns()}")
    setup_times = []
    for rep in range(setup_reps):
        t0 = time.perf_counter()
        inputs = generate(seed, WARMUP_BATCHES + n_warm + n_measured)
        base = os.path.join(root, f"setup{rep}")
        store = _seed_store(spark, base, inputs)
        setup_times.append(time.perf_counter() - t0)

    store_trace: list[cc.StoreCall] | None = [] if traced else None
    store = cc.make_store("bucketed", store.path, store_trace, num_buckets=NUM_BUCKETS)
    dlq = cc.make_store("plain", os.path.join(base, "dlq"), store_trace)
    staging, watched = os.path.join(base, "staging"), os.path.join(base, "in")
    os.makedirs(staging)
    os.makedirs(watched)
    staged = []
    for i, lines in enumerate(inputs.files):
        p = os.path.join(staging, f"f{i:06d}.jsonl")
        _write_lines(p, lines)
        staged.append(p)

    monitor = ProgressMonitor() if traced else None
    if monitor is not None:
        spark.streams.addListener(monitor)
    cp = os.path.join(base, "cp")
    t_warm = time.perf_counter()
    query_start = time.time()
    q = run_consumer_stream(
        spark,
        watched,
        cp,
        schema(),
        ENTITY,
        {ENTITY: EntitySink(store)},
        dead_letter_store=dlq,
        available_now=False,
    )
    gen = None
    try:
        for p in staged[:WARMUP_BATCHES]:
            os.rename(p, os.path.join(watched, os.path.basename(p)))
            _wait_committed(cp, {os.path.basename(p)}, 120)
        warmup_s = time.perf_counter() - t_warm + WARMUP_S
        scheduled = staged[WARMUP_BATCHES:]
        measured = scheduled[n_warm:]
        gen = Generator(scheduled, watched, time.time() + 0.2, PERIOD_S)
        t0 = gen.t0 + n_warm * PERIOD_S  # the measured window opens
        gen.start()
        gen.join(timeout=WARMUP_S + seconds + 60)
        names = {os.path.basename(p) for p in measured}
        at_end = cc.read_checkpoint(cp)
        done_at_end = {n for n, b in at_end.batch_of_file().items() if b in at_end.commit_time}
        backlog = sum(1 for n in names if n not in done_at_end) * FILE_EVENTS
        log = _wait_committed(cp, names, 120)
    finally:
        q.stop()
        if gen is not None:
            gen.join(timeout=60)
        if monitor is not None:
            spark.streams.removeListener(monitor)
    if gen.error is not None:
        raise gen.error

    due = {
        os.path.basename(p): (t0 + i * PERIOD_S, FILE_EVENTS) for i, p in enumerate(measured)
    }
    lat, missing = cc.latencies_ms(log, due)
    last_commit = max(log.commit_time.values())
    batch_s = cc.batch_busy_s(log, set(log.commit_time))

    if corrupt:
        cc.corrupt_one_row(spark, store)
    replica = read_replica(spark, store)
    bad_rows = cc.count_mismatches(replica, inputs.expected)
    dl = dlq.read(spark)
    dead = dl.count() if dl is not None else 0
    gate_ok = cc.gate_catches_corruption(replica, inputs.expected)

    attempted = inputs.n_events
    failed = min(attempted, bad_rows + abs(dead - inputs.unknown) + missing)
    p50, p99 = cc.latency_summary(lat) if lat else (float("nan"),) * 2
    events_measured = len(measured) * FILE_EVENTS
    replay_files = sorted(os.path.join(watched, n) for n in names)
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and gate_ok,
        "setup_reps_s": setup_times,
        "setup_s": harness.median(setup_times) + warmup_s,
        "warmup_s": warmup_s,
        "e2e": {
            "throughput_per_s": events_measured / (last_commit - t0),
            "latency_ms_p50": p50,
            "latency_ms_p99": p99,
            "total_s": last_commit - t0,
        },
        "detail": {
            "offered_rate_per_s": OFFERED_RATE,
            "events_measured": events_measured,
            "events_streamed": inputs.n_events,
            "latency_samples": len(lat),
            "latencies_ms": sorted(round(x) for x in lat),
            "mismatched_rows": bad_rows,
            "mismatch_kinds": cc.mismatch_kinds(replica, inputs.expected),
            "dead_lettered": dead,
            "unknown_generated": inputs.unknown,
            "uncommitted_events": missing,
            "gate_self_test": gate_ok,
            "kinds": inputs.kinds,
            "batch_s": [round(s, 3) for s in batch_s.values()],
        },
        "layer_extra": {
            "streaming.pipeline.generator_late_ms_max": max(gen.late_ms),
            "streaming.pipeline.backlog_events_end": float(backlog),
            "consumer.persistor.dead_lettered": float(dead),
        },
        "store": store,
        "replay_files": replay_files[: max(1, cc.REPLAY_EVENTS // FILE_EVENTS)],
        "stream": {
            "monitor": monitor,
            "log": log,
            "store_trace": store_trace,
            "query_start": query_start,
            "query_id": str(q.id),
        },
    }


def measure(session, seed, seconds, session_start_s, corrupt):
    return cc.measure(sys.modules[__name__], session, seed, seconds, session_start_s, corrupt)


def trace(session, seed, seconds, session_start_s):
    return cc.trace(sys.modules[__name__], session, seed, seconds, session_start_s)

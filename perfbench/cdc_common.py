"""Pieces both CDC workloads share: envelope encoding, the timing store
wrapper, readers for the stream's checkpoint logs, the per-layer numbers
taken from the progress listener and the event log, and the isolated
replay that prices decode, flatten and merge on their own.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from harness import median, quantile

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def envelope(events: list[tuple[str, str, dict]]) -> str:
    """One wire record packing several events:
    ``{"message": [{"event", "model_name", "data": [snapshot]}, ...]}``."""
    return json.dumps(
        {
            "message": [
                {"event": ev, "model_name": model, "data": [snap]}
                for ev, model, snap in events
            ]
        },
        separators=(",", ":"),
    )


# -- the injected stores, optionally timed ---------------------------------


@dataclass
class StoreCall:
    store: str
    op: str
    start: float
    end: float
    buckets_touched: int = 0
    rows_written: int = 0
    bytes_written: int = 0


def _dir_stats(path: str) -> tuple[int, int]:
    rows = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows, size


def make_store(kind: str, path: str, trace: list[StoreCall] | None, **kw):
    """A store of the package's class ``kind`` (``bucketed`` or
    ``plain``); with ``trace`` set, a subclass that records every merge
    and append as a span plus the buckets, rows and bytes it wrote."""
    from dionysus_rb_spark.streaming.snapshot_store import (
        BucketedSnapshotStore,
        SnapshotStore,
    )

    base = BucketedSnapshotStore if kind == "bucketed" else SnapshotStore
    if trace is None:
        return base(path, **kw)
    name = os.path.basename(path)

    class Timed(base):  # type: ignore[misc, valid-type]
        def _span(self, op, fn, *args, **kwargs):
            before = self._snapshot()
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                call = StoreCall(name, op, t0, time.time())
                self._account(call, before)
                trace.append(call)

        def _snapshot(self):
            if isinstance(self, BucketedSnapshotStore):
                return dict(self._manifest())
            return SnapshotStore.current_version(self)

        def _account(self, call: StoreCall, before) -> None:
            after = self._snapshot()
            if isinstance(self, BucketedSnapshotStore):
                changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
                call.buckets_touched = len(changed)
                for b in changed:
                    if b in after:
                        r, s = _dir_stats(os.path.join(self.path, after[b]))
                        call.rows_written += r
                        call.bytes_written += s
            elif after != before and after is not None:
                r, s = _dir_stats(os.path.join(self.path, after))
                call.rows_written, call.bytes_written = r, s

        def merge(self, spark, batch, *a, **k):
            return self._span("merge", super().merge, spark, batch, *a, **k)

        def append(self, spark, df):
            return self._span("append", super().append, spark, df)

    return Timed(path, **kw)


# -- the checkpoint's own records ----------------------------------------


@dataclass
class CheckpointLog:
    files_by_batch: dict[int, list[str]]
    commit_time: dict[int, float]  # mtime of commits/<id>
    offset_time: dict[int, float]  # mtime of offsets/<id>

    def batch_of_file(self) -> dict[str, int]:
        return {
            os.path.basename(p): b for b, ps in self.files_by_batch.items() for p in ps
        }


def read_checkpoint(cp: str) -> CheckpointLog:
    files: dict[int, set[str]] = {}
    src = os.path.join(cp, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                files.setdefault(int(entry["batchId"]), set()).add(entry["path"])

    def mtimes(sub: str) -> dict[int, float]:
        d = os.path.join(cp, sub)
        out = {}
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
        return out

    return CheckpointLog(
        {b: sorted(ps) for b, ps in files.items()}, mtimes("commits"), mtimes("offsets")
    )


def batch_busy_s(log: CheckpointLog, batches: set[int]) -> dict[int, float]:
    """Busy time of each batch: from its ``offsets/`` entry (written when
    the batch is planned) to its ``commits/`` entry."""
    return {
        b: log.commit_time[b] - log.offset_time[b]
        for b in sorted(batches)
        if b in log.commit_time and b in log.offset_time
    }


def latencies_ms(
    log: CheckpointLog, due_by_file: dict[str, tuple[float, int]]
) -> tuple[list[float], int]:
    """Per event: commit time of the batch that read its file minus the
    time the event was due. Returns (latencies, events never committed)."""
    batch_of = log.batch_of_file()
    lat: list[float] = []
    missing = 0
    for fname, (due, n_events) in due_by_file.items():
        b = batch_of.get(fname)
        if b is None or b not in log.commit_time:
            missing += n_events
            continue
        lat.extend([(log.commit_time[b] - due) * 1e3] * n_events)
    return lat, missing


# -- per-layer numbers from Spark's own records ---------------------------


def _iso_utc(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


# A batch's store time may exceed its addBatch by this share plus the
# slack: progress durations are whole milliseconds on Spark's clock, store
# spans are on the benchmark's.
RECONCILE_TOLERANCE = 0.05
RECONCILE_SLACK_S = 0.05


def stream_layers(
    progress: list,
    log: CheckpointLog,
    store_trace: list[StoreCall],
    events,
    n_events: int,
    query_start: float,
) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of one traced stream, and the checks that the
    layer split holds.

    ``progress`` holds the listener's records of the measured query and
    ``events`` the event log, usage keyed by ``batch:<id>``. Each trigger
    splits into the engine's own phases (triggerExecution minus addBatch,
    getBatch included), the store calls made inside addBatch (timed by the
    store wrapper) and the rest of addBatch (the persistor's own work).

    The split is checked per batch, against sources that do not share a
    clock or a writer:

    * every store call lies inside one trigger's window (progress
      timestamp plus triggerExecution); the call is billed to that batch;
    * a batch's store time is at most its addBatch (within the
      tolerance), so the persistor's own time is never negative;
    * every job the event log shows submitted during a store call carries
      that batch's ``streaming.sql.batchId``, and the store calls
      submitted at least one job.

    The stream's wall time (start to the mtime of the last ``commits/``
    file) is also split into start-up, triggers and idle gaps; that sum
    only shows that the listener saw every trigger."""
    triggers = sorted(
        (p for p in progress if "triggerExecution" in p.duration_ms),
        key=lambda p: _iso_utc(p.timestamp),
    )
    batches = [p for p in triggers if "addBatch" in p.duration_ms]
    spans = [
        (p, _iso_utc(p.timestamp), _iso_utc(p.timestamp) + p.duration_ms["triggerExecution"] / 1e3)
        for p in triggers
    ]

    def ms(p, key):
        return p.duration_ms.get(key, 0) / 1e3

    slack = RECONCILE_SLACK_S
    store_s_by_batch: dict[int, float] = {}
    billed: list[tuple[StoreCall, int]] = []
    outside = 0
    for c in store_trace:
        owner = next(
            (p for p, s, e in spans if s - slack <= c.start and c.end <= e + slack), None
        )
        if owner is None:
            outside += 1
            continue
        billed.append((c, owner.batch_id))
        store_s_by_batch[owner.batch_id] = store_s_by_batch.get(owner.batch_id, 0.0) + (
            c.end - c.start
        )
    per_batch = [
        {
            "batch": p.batch_id,
            "add_batch_s": ms(p, "addBatch"),
            "store_s": store_s_by_batch.get(p.batch_id, 0.0),
            "persistor_self_s": ms(p, "addBatch") - store_s_by_batch.get(p.batch_id, 0.0),
        }
        for p in batches
    ]
    over = [
        b["batch"]
        for b in per_batch
        if b["store_s"] > b["add_batch_s"] * (1 + RECONCILE_TOLERANCE) + slack
    ]
    store_jobs = misbilled = 0
    for c, b in billed:
        for t, label in events.job_starts:
            if c.start <= t <= c.end:
                store_jobs += 1
                misbilled += label != f"batch:{b}"

    n = max(1, len(batches))
    trig_all = sum(ms(p, "triggerExecution") for p in triggers)
    add = sum(ms(p, "addBatch") for p in batches)
    getb = sum(ms(p, "getBatch") for p in batches)
    store_s = sum(store_s_by_batch.values())
    startup = spans[0][1] - query_start if spans else 0.0
    gaps = sum(max(0.0, spans[i + 1][1] - spans[i][2]) for i in range(len(spans) - 1))
    last_commit = max(log.commit_time.values()) if log.commit_time else query_start
    wall = last_commit - query_start
    covered = startup + trig_all + gaps
    merges = [c for c in store_trace if c.op == "merge"]
    files = [len(log.files_by_batch.get(p.batch_id, [])) for p in batches]
    usage = [events.get(f"batch:{p.batch_id}") for p in batches]
    metrics = {
        "streaming.pipeline.batches": float(len(batches)),
        "streaming.pipeline.files_per_batch": sum(files) / n,
        "streaming.pipeline.tasks_per_batch": sum(u.tasks for u in usage) / n,
        "streaming.pipeline.get_batch_s": getb / n,
        "streaming.pipeline.overhead_s": (trig_all - add) / n,
        "streaming.pipeline.add_batch_s": add / n,
        "consumer.persistor.self_s": (add - store_s) / n,
        "consumer.persistor.jobs_per_batch": sum(u.jobs for u in usage) / n,
        "streaming.snapshot_store.merge_calls": float(len(merges)),
        "streaming.snapshot_store.merge_s": (
            sum(c.end - c.start for c in merges) / max(1, len(merges))
        ),
        "streaming.snapshot_store.buckets_touched_per_merge": (
            sum(c.buckets_touched for c in merges) / max(1, len(merges))
        ),
        "streaming.snapshot_store.rows_rewritten_per_event": (
            sum(c.rows_written for c in merges) / max(1, n_events)
        ),
        "streaming.snapshot_store.bytes_written": float(
            sum(c.bytes_written for c in store_trace)
        ),
    }
    uncovered = (wall - covered) / wall if wall > 0 else 1.0
    detail = {
        "tolerance": RECONCILE_TOLERANCE,
        "slack_s": slack,
        "store_calls_outside_triggers": outside,
        "batches_store_over_add_batch": over,
        "store_jobs": store_jobs,
        "store_jobs_misbilled": misbilled,
        "stream_wall_s": wall,
        "uncovered_share": uncovered,
        "reconciled": (
            outside == 0
            and not over
            and store_jobs > 0
            and misbilled == 0
            and abs(uncovered) <= RECONCILE_TOLERANCE
        ),
        "layers_s": {
            "start-up": startup,
            "streaming.pipeline (engine phases)": trig_all - add,
            "consumer.persistor (self)": add - store_s,
            "streaming.snapshot_store": store_s,
            "idle between triggers": gaps,
        },
        "per_batch": per_batch,
    }
    return metrics, detail


# -- isolated replay of a fixed set of input files ------------------------


def isolated_replay(spark, files: list[str], schema, entity: str, store, reps: int = 3):
    """Time the consumer's three transforms on their own over a fixed set
    of the stream's input files, each stage written to the ``noop`` sink
    from a cached input so no stage pays for the one before it:

    * decode: envelope JSON -> one row per event (``decode_envelope``);
    * flatten: decoded events -> every entity's canonical frame
      (``deserialize``);
    * merge: the root entity's canonical batch merged into the store's
      current state (``guarded_merge``).

    Returns ms per 1000 events for each stage (median of ``reps`` after
    one warm-up) and the number of events replayed."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    from dionysus_rb_spark.consumer.deserializer import (
        DeserializerConfig,
        canonical_columns,
        deserialize,
    )
    from dionysus_rb_spark.operators.events import parse_event_name
    from dionysus_rb_spark.operators.merge import KNOWN_EVENTS, guarded_merge
    from dionysus_rb_spark.sources.envelope import decode_envelope

    def decode(df):
        d = decode_envelope(df, schema)
        _, action = parse_event_name(F.col("event"))
        return d.withColumn("__action", action)

    sideloads = {
        f.name
        for f in schema.fields
        if f.name != "links"
        and (
            isinstance(f.dataType, StructType)
            or (
                isinstance(f.dataType, ArrayType)
                and isinstance(f.dataType.elementType, StructType)
            )
        )
    }
    raw = spark.read.text(files).cache()
    raw.count()
    known = (
        decode(raw)
        .filter(F.col("record").isNotNull() & F.col("__action").isin(*KNOWN_EVENTS))
        .cache()
    )
    n_events = known.count()
    root = known.select(
        F.col("__action").alias("event"),
        *canonical_columns(F.col("record"), schema, entity, DeserializerConfig(), sideloads),
    ).cache()
    root.count()
    target = store.read(spark)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    stages = {
        "decode": lambda: noop(decode(raw)),
        "flatten": lambda: [noop(e.frame) for e in deserialize(known, schema, entity)],
        "merge": lambda: noop(guarded_merge(target, root)),
    }
    out = {}
    for stage, fn in stages.items():
        fn()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[stage] = median(ts)
    for df in (root, known, raw):
        df.unpersist()
    per_k = 1e6 / max(1, n_events)  # seconds per pass -> ms per 1000 events
    return {
        "sources.envelope.decode_ms_per_kevent": out["decode"] * per_k,
        "consumer.deserializer.flatten_ms_per_kevent": out["flatten"] * per_k,
        "operators.merge.guarded_merge_ms_per_kevent": out["merge"] * per_k,
    }, n_events


def count_mismatches(got: dict, want: dict) -> int:
    """Keys whose row differs, is missing or is unexpected."""
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))


def mismatch_kinds(got: dict, want: dict) -> dict[str, int]:
    """Mismatched keys by kind (``unexpected``, ``missing``, ``different``),
    prefixed with the entity when keys are ``(entity, id)``."""
    out: dict[str, int] = {}
    for k in set(got) | set(want):
        if got.get(k) == want.get(k):
            continue
        kind = "unexpected" if k not in want else "missing" if k not in got else "different"
        name = f"{k[0]}.{kind}" if isinstance(k, tuple) else kind
        out[name] = out.get(name, 0) + 1
    return out


def gate_catches_corruption(replica: dict, expected: dict) -> bool:
    """Self-test of the correctness gate, run on a copy every run: change
    one row that currently matches and require exactly one more
    mismatch."""
    base = count_mismatches(replica, expected)
    key = next((k for k in replica if replica[k] == expected.get(k)), None)
    if key is None:
        return base > 0
    probe = dict(replica)
    probe[key] = ("corrupted",) + tuple(replica[key])[1:]
    return count_mismatches(probe, expected) == base + 1


def latency_summary(lat: list[float]) -> tuple[float, float]:
    return quantile(lat, 0.5), quantile(lat, 0.99)


# -- the two run modes shared by the CDC workloads -------------------------

SETUP_REPS = 3
REPLAY_EVENTS = 800


def corrupt_one_row(spark, store) -> None:
    """Self-test: overwrite the first floating-point value of one row the
    store currently serves, straight in its parquet file."""
    import pyarrow as pa

    for uri in sorted(store.read(spark).inputFiles()):
        path = uri.removeprefix("file://").removeprefix("file:")
        pf = pq.ParquetFile(path)
        int96 = any(c.physical_type == "INT96" for c in pf.schema)  # keep Spark's encoding
        table = pf.read()
        for i, fld in enumerate(table.schema):
            if table.num_rows and pa.types.is_floating(fld.type):
                col = table.column(i).to_pylist()
                col[0] = -1.0 if col[0] != -1.0 else -2.0
                pq.write_table(
                    table.set_column(i, fld, pa.array(col, fld.type)),
                    path,
                    use_deprecated_int96_timestamps=int96,
                )
                # drop Hadoop's checksum of the old bytes so the read sees the new ones
                crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise RuntimeError("no stored row to corrupt")


def measure(mod, session, seed: int, seconds: float, session_start_s: float, corrupt: bool) -> dict:
    import harness as h

    p = mod.run_pass(session, seed, seconds, traced=False, setup_reps=SETUP_REPS, corrupt=corrupt)
    metrics = {
        "throughput_per_s": p["e2e"]["throughput_per_s"],
        "setup_s": session_start_s + p["setup_s"],
        "peak_rss_mb": h.peak_rss_mb(session.jvm_pid()),
    }
    # latency percentiles are reported here, not as metrics: they follow
    # the host's contention too closely to hold a bound (perfbench/README.md)
    detail = dict(p["detail"], **p["e2e"])
    detail["setup_parts_s"] = {
        "session_start": session_start_s,
        "inputs_and_seed_reps": p["setup_reps_s"],
        "warm_up": p["warmup_s"],
    }
    return {k: p[k] for k in ("attempted", "failed", "correct")} | {
        "metrics": metrics,
        "detail": detail,
    }


def trace(mod, session, seed: int, seconds: float, session_start_s: float) -> dict:
    """The traced run: an untraced pass, a traced pass (event log, progress
    listener, store wrapper) with an isolated replay of its input, and a
    pass at ``local[1]``. Each pass sets up its own inputs and stores."""
    import eventlog
    import harness as h

    cores = session.cores
    a = mod.run_pass(session, seed, seconds, traced=False, setup_reps=1)
    session.restart(cores, trace=True)
    b = mod.run_pass(session, seed, seconds, traced=True, setup_reps=1)
    replay, replayed = isolated_replay(
        session.spark, b["replay_files"], mod.schema(), mod.ENTITY, b["store"]
    )
    app_b = session.app_id
    session.restart(1, trace=False)
    c = mod.run_pass(session, seed, seconds, traced=False, setup_reps=1)

    s = b["stream"]
    of_batch, of_group = eventlog.batch_label(s["query_id"]), eventlog.group_label("pb")
    ev = eventlog.read(
        session.event_dir, app_b, lambda props: of_batch(props) or of_group(props)
    )
    progress = [p for p in s["monitor"].progress if str(p.query_name) == s["query_id"]]
    layers, recon = stream_layers(
        progress, s["log"], s["store_trace"], ev, b["detail"]["events_streamed"], s["query_start"]
    )
    usage = eventlog.Usage()  # the measured stream, plus its publish step if any
    for label, u in ev.by_label.items():
        if label.startswith("batch:") or label == b.get("extra_usage_label"):
            usage.add(u)
    metrics = {
        **layers,
        **replay,
        **b["layer_extra"],
        "spark.task_s": usage.task_s,
        "spark.gc_s": usage.gc_s,
        "spark.shuffle_write_bytes": float(usage.shuffle_write_bytes),
        "spark.spill_bytes": float(usage.spill_bytes),
        "spark.jobs": float(usage.jobs),
        "spark.cores1_wall_s": c["e2e"]["total_s"],
        "trace.untraced_total_s": a["e2e"]["total_s"],
        "trace.traced_total_s": b["e2e"]["total_s"],
        "trace.overhead_s": b["e2e"]["total_s"] - a["e2e"]["total_s"],
    }
    passes = (a, b, c)
    detail = {
        "reconciliation": recon,
        "replayed_events": replayed,
        "passes": {
            name: {"e2e": p["e2e"], "correct": p["correct"], "failed": p["failed"]}
            for name, p in zip(("untraced", "traced", "cores1"), passes)
        },
        "traced_pass": b["detail"],
        "failed_or_speculative_attempts": ev.total.failed_or_speculative_attempts,
    }
    return {
        "attempted": sum(p["attempted"] for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "correct": all(p["correct"] for p in passes) and recon["reconciled"],
        "metrics": metrics,
        "detail": detail,
    }

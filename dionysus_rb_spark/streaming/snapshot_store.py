"""Versioned parquet snapshot stores — the MERGE target.

The reference's consumer target table (the "world model" the upsert
maintains, persistor.rb) maps to a lakehouse table we MERGE into. Delta
isn't available in this container, so the stores implement the same
contract on plain parquet: versioned directories + an atomic pointer
file.

Every merge follows one protocol, whatever the layout:

1. read the slice of the store the batch can touch;
2. ``guarded_merge`` the batch into that slice — the only write
   decision; an empty slice (a first write) merges against an empty
   frame, which Catalyst folds to the batch side;
3. commit the merged slice into a new version dir, swap the pointer;
4. GC: delete version dirs the pointer no longer references, keeping
   the newest ``GC_GRACE`` unreferenced ones for in-flight readers.

A layout only chooses the slice (step 1) and the commit (step 3). The
plain store's slice is the whole table; the bucketed store's is the
buckets the batch's keys hash to.

On a real cluster this is swapped for ``DeltaTable.merge`` (or Iceberg
MERGE INTO): the transform logic (operators/merge.py) is identical —
only the physical commit differs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import guarded_merge

# unreferenced version dirs kept after a commit, newest first
GC_GRACE = 2


class SnapshotStore:
    """Whole-table layout: each commit rewrites the table — Delta's
    copy-on-write trade at table granularity, O(table) per batch."""

    def __init__(self, path: str, key: str = "synced_id"):
        self.path = path
        self.key = key
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _read_pointer(self) -> dict:
        if not os.path.exists(self._pointer):
            return {}
        with open(self._pointer) as f:
            return json.load(f)

    def _write_pointer(self, data: dict) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self._pointer)  # atomic pointer swap

    def current_version(self) -> str | None:
        return self._read_pointer().get("version")

    def read(self, spark: SparkSession) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        return spark.read.parquet(os.path.join(self.path, v))

    def overwrite(self, df: DataFrame) -> None:
        self._commit(df)

    def append(self, spark: SparkSession, df: DataFrame) -> None:
        """Accumulate rows (the dead-letter contract: every batch's
        rejects survive, across batches and within one batch's multiple
        reject paths)."""
        cur = self.read(spark)
        if cur is not None:
            df = cur.unionByName(df, allowMissingColumns=True)
        self.overwrite(df)

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        order_tiebreak: str | None = None,
    ) -> None:
        """Idempotent guarded MERGE of one (micro-)batch. Replaying a
        batch yields the same state (F1 guard + keep-latest), and the
        state does not depend on how events split into batches — which
        is what makes foreachBatch at-least-once effectively
        exactly-once (SURVEY §2.10 T1)."""
        # entities without soft-delete / update-timestamp columns degrade
        # gracefully (FIXTURES.md §4's column-less variants)
        canceled_col = (
            "synced_canceled_at" if "synced_canceled_at" in batch.columns else None
        )
        if "synced_updated_at" not in batch.columns:
            batch = batch.withColumn("synced_updated_at", F.lit(None).cast("timestamp"))
        target, scope = self._slice(spark, batch)
        if target is None:
            # limit(0) becomes an empty LocalRelation, which Catalyst
            # folds out of the join; createDataFrame([]) is an RDD scan
            # and would keep the full outer join
            target = batch.drop("event").limit(0)
        merged = guarded_merge(
            target,
            batch,
            key=self.key,
            canceled_col=canceled_col,
            order_tiebreak=order_tiebreak,
        )
        self._commit(merged, scope)

    def _slice(
        self, spark: SparkSession, batch: DataFrame
    ) -> tuple[DataFrame | None, list[int] | None]:
        """The rows ``batch`` can touch (None when there are none) and
        the commit scope that replaces them: here, the whole table."""
        return self.read(spark), None

    def _new_version_dir(self) -> str:
        return f"v{int(time.time() * 1000)}_{os.getpid()}"

    def _commit(self, df: DataFrame, scope: list[int] | None = None) -> None:
        version = self._new_version_dir()
        df.write.mode("overwrite").parquet(os.path.join(self.path, version))
        self._write_pointer({"version": version})
        self._gc()

    def _referenced(self) -> set[str]:
        return {self.current_version()} - {None}

    def _gc(self) -> None:
        referenced = self._referenced()
        stale = sorted(
            d
            for d in os.listdir(self.path)
            if d.startswith("v")
            and d not in referenced
            and os.path.isdir(os.path.join(self.path, d))
        )
        for d in stale[:-GC_GRACE]:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)


class BucketedSnapshotStore(SnapshotStore):
    """Key-bucketed layout: MERGE cost ∝ touched buckets.

    The merge key hashes into ``num_buckets`` partitions. A batch's slice
    is the buckets its keys land in (one distinct-bucket collect), and
    its commit writes only those buckets and repoints their entries in
    the manifest (bucket -> current dir), which swaps atomically. With
    num_buckets sized so each bucket ≈ a Delta file group, this IS the
    bounded-rewrite behavior `MERGE INTO` gives on a lakehouse — per
    micro-batch cost tracks batch size, not table size.

    Note on co-location: plain parquet reads carry no bucketing metadata,
    so the merge join still exchanges the (touched-bucket subset of the)
    target. What this layout bounds is IO and rewrite volume; to also
    skip the target-side exchange on a cluster, register the store as a
    Hive-bucketed table (``bucketBy(n, key).saveAsTable``) or use a
    lakehouse MERGE — the transform logic is unchanged either way.
    """

    def __init__(self, path: str, key: str = "synced_id", num_buckets: int = 16):
        super().__init__(path, key)
        self.num_buckets = num_buckets

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col(self.key)), self.num_buckets).cast("int")

    def _manifest(self) -> dict[str, str]:
        return self._read_pointer().get("buckets", {})

    def read(self, spark: SparkSession, buckets: list[int] | None = None) -> DataFrame | None:
        manifest = self._manifest()
        wanted = (
            [str(b) for b in buckets if str(b) in manifest]
            if buckets is not None
            else list(manifest)
        )
        if not wanted:
            return None
        return spark.read.parquet(*[os.path.join(self.path, manifest[b]) for b in wanted])

    def _slice(
        self, spark: SparkSession, batch: DataFrame
    ) -> tuple[DataFrame | None, list[int] | None]:
        touched = [
            r["__b"]
            for r in batch.select(self._bucket_expr().alias("__b")).distinct().collect()
        ]
        return self.read(spark, buckets=touched), touched

    def _commit(self, df: DataFrame, scope: list[int] | None = None) -> None:
        """Write ``df`` partitioned by bucket into a new version dir and
        repoint the ``scope`` buckets' manifest entries; ``scope=None``
        replaces the table."""
        version = self._new_version_dir()
        out = os.path.join(self.path, version)
        (
            df.withColumn("__bucket", self._bucket_expr())
            .repartition("__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out)
        )
        written = {
            d.split("=", 1)[1]: os.path.join(version, d)
            for d in os.listdir(out)
            if d.startswith("__bucket=")
        }
        if scope is None:
            manifest = written
        else:
            manifest = self._manifest()
            for b in {str(b) for b in scope}:
                if b in written:
                    manifest[b] = written[b]
                else:
                    manifest.pop(b, None)  # the merge emptied the bucket
        self._write_pointer({"buckets": manifest})
        self._gc()

    def _referenced(self) -> set[str]:
        return {p.split(os.sep, 1)[0] for p in self._manifest().values()}

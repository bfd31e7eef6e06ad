"""Per-micro-batch checkpointing with atomic commit.

The reference "resumes" only by virtue of its DB-backed seen set — a killed
job re-fetches list pages but never re-stores articles
(demo/middlewares.py:50-68). The north rule requires strictly better:
per-batch transactional snapshots of (frontier, url_seen, scheduled,
metrics, crawl_log, docs) so a killed job resumes *without re-fetching*
(SURVEY §2.7 W6).

Commit protocol: write all state dirs under batch_NNNNN/, then atomically
rename MANIFEST.json into place. Readers treat a batch as existing iff its
manifest exists, so a crash mid-write leaves an invisible partial batch
that the next run simply overwrites. State that grows monotonically
(url_seen, scheduled, docs, crawl_log, metrics) is stored as per-batch
deltas — O(batch) write cost, not O(history); a real deployment compacts
deltas periodically (Iceberg would do this natively).

Reading state back from parquet each batch also truncates DataFrame lineage
— without this, iterative loops accrete unbounded plan depth. Every read
passes the schema Spark stored in the part's own parquet footer (parsed on
the driver), so a read plans without a schema-inference Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DELTA_PARTS = ("docs", "crawl_log", "metrics")
FULL_PARTS = ("frontier",)

# Every part write and compaction coalesces to this many files: deltas are
# O(batch), and a 32-way write of a few hundred rows is pure small-file
# overhead. A 10^10-URL deployment raises it (or switches the seam to
# Iceberg appends); semantics are unchanged either way.
WRITE_PARTITIONS = 4

# Footer key under which Spark's parquet writer stores the row schema (as
# StructType JSON); Spark's own inference job reads this same key.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the footer of one part file under
    ``path`` — a driver-side read of a few KB, no Spark job. Every write
    leaves at least one part file, an empty one included. None when the
    directory has no Spark footer metadata (e.g. written by pyarrow)."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    if not files:
        return None
    meta = pq.read_metadata(files[0]).metadata or {}
    raw = meta.get(SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw is not None else None


class CrawlCheckpoint:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.root, f"batch_{batch_id:05d}")

    def _manifest(self, batch_id: int) -> str:
        return os.path.join(self._batch_dir(batch_id), "MANIFEST.json")

    def last_complete_batch(self) -> int | None:
        done = [
            int(d.split("_")[1])
            for d in os.listdir(self.root)
            if d.startswith("batch_")
            and os.path.exists(os.path.join(self.root, d, "MANIFEST.json"))
        ]
        return max(done) if done else None

    def commit(self, batch_id: int, parts: dict[str, DataFrame],
               stats: dict) -> None:
        """Write all parts, then the manifest (the atomic commit point)."""
        self.begin(batch_id)
        self.write_parts(batch_id, parts)
        self.finalize(batch_id, stats)

    def begin(self, batch_id: int) -> None:
        """Open ``batch_id`` for part writes: clears the torn write a
        killed run may have left (a batch dir without a manifest)."""
        bdir = self._batch_dir(batch_id)
        if os.path.exists(bdir) and not os.path.exists(self._manifest(batch_id)):
            shutil.rmtree(bdir)
        os.makedirs(bdir, exist_ok=True)

    def write_parts(self, batch_id: int, parts: dict[str, DataFrame]) -> None:
        """Write state dirs for ``batch_id`` (opened by ``begin``) — NOT
        yet committed (the batch stays invisible to readers until
        ``finalize`` lands the manifest); one batch may take several
        calls. The parts are independent jobs over mostly-persisted
        inputs; submitting them from driver threads lets Spark run them
        concurrently (idle cores otherwise wait out each tiny write in
        turn — the dominant per-batch driver overhead at small batches)."""
        bdir = self._batch_dir(batch_id)

        def write_one(item):
            name, df = item
            df.coalesce(WRITE_PARTITIONS).write.mode("overwrite").parquet(
                os.path.join(bdir, name)
            )

        with ThreadPoolExecutor(max_workers=max(1, len(parts))) as ex:
            list(ex.map(write_one, parts.items()))

    def discard(self, batch_id: int) -> None:
        """Delete an unfinalized batch's written parts (a batch that turned
        out to hold nothing to commit). Never touches a committed batch."""
        if not os.path.exists(self._manifest(batch_id)):
            shutil.rmtree(self._batch_dir(batch_id), ignore_errors=True)

    def finalize(self, batch_id: int, stats: dict) -> None:
        """Land the manifest — the single atomic commit point. Only call
        after every part of the batch is fully on disk."""
        tmp = self._manifest(batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batch_id, "stats": stats}, fh)
        os.replace(tmp, self._manifest(batch_id))

    def _read(self, *paths: str) -> DataFrame:
        """``spark.read.parquet`` with the schema taken from the first
        path's footer; falls back to Spark's inference job without one."""
        schema = footer_schema(paths[0])
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read_part(self, batch_id: int, name: str) -> DataFrame:
        return self._read(os.path.join(self._batch_dir(batch_id), name))

    def replace_part(self, batch_id: int, name: str, df: DataFrame) -> None:
        """Atomically swap a committed batch's part with new contents
        (used for filter surgery on eviction). Write-new → rename-old-away
        → rename-new-in → drop-old; a crash at any point leaves either the
        old or the new part fully readable — never a torn mix."""
        bdir = self._batch_dir(batch_id)
        final = os.path.join(bdir, name)
        tmp = final + "__tmp"
        old = final + "__old"
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        df.coalesce(WRITE_PARTITIONS).write.mode("overwrite").parquet(tmp)
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old)

    # -- eviction log (recrawl / retention rolls) ---------------------------

    def _evictions_root(self) -> str:
        return os.path.join(self.root, "evictions")

    def append_evictions(self, df: DataFrame) -> int:
        """Append evicted URLs (url, url_hash, evicted_at_batch) — an
        append-only side log
        the seen-set derivation subtracts, so evicted URLs become
        refetchable without rewriting the docs history. Atomic per append
        (write to tmp dir, rename into place). Returns the number of rows
        appended, read off the parquet footers; an empty append leaves
        nothing in the log."""
        root = self._evictions_root()
        os.makedirs(root, exist_ok=True)
        n = len([d for d in os.listdir(root) if d.startswith("ev_")])
        final = os.path.join(root, f"ev_{n:05d}")
        tmp = final + "__tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        n_rows = _footer_rows(tmp)
        if n_rows == 0:
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, final)
        return n_rows

    def read_evictions(self) -> DataFrame | None:
        root = self._evictions_root()
        if not os.path.isdir(root):
            return None
        paths = sorted(
            os.path.join(root, d) for d in os.listdir(root)
            if d.startswith("ev_") and not d.endswith("__tmp")
        )
        if not paths:
            return None
        return self._read(*paths)

    def prune_part(self, name: str, upto_batch: int) -> None:
        """Delete stale copies of a SNAPSHOT part (the URL-seen filter)
        from committed batches strictly below ``upto_batch``. Delta parts
        (docs/crawl_log/metrics) are unioned across history and compacted;
        a snapshot part is only ever read from the NEWEST committed batch,
        so older copies are dead weight — at the 10^10-URL design point
        the filter is GBs per copy and would otherwise accumulate
        O(num_batches × filter_size) on disk. Never touches
        ``upto_batch`` itself and only prunes batches whose manifest
        exists, so a crash mid-prune always leaves the newest committed
        snapshot readable."""
        for d in os.listdir(self.root):
            if not d.startswith("batch_"):
                continue
            b = int(d.split("_")[1])
            if b >= upto_batch:
                continue
            part = os.path.join(self.root, d, name)
            if os.path.exists(part) and os.path.exists(self._manifest(b)):
                shutil.rmtree(part)

    def has_part(self, batch_id: int, name: str) -> bool:
        return os.path.exists(os.path.join(self._batch_dir(batch_id), name))

    def delta_paths(self, name: str, upto_batch: int) -> list[str]:
        """The directories a read_deltas(name, upto_batch) will touch —
        one compacted snapshot (if any) plus the per-batch tail. With
        periodic compaction this list is bounded by compact_every + 1
        regardless of history length (asserted in tests)."""
        base = None
        start = 0
        snap = self._newest_compaction(name, upto_batch)
        if snap is not None:
            base, start = snap
        paths = [
            os.path.join(self._batch_dir(b), name)
            for b in range(start, upto_batch + 1)
            if os.path.exists(os.path.join(self._batch_dir(b), name))
        ]
        if base is not None:
            paths = [base] + paths
        return paths

    def read_deltas(self, name: str, upto_batch: int) -> DataFrame | None:
        """Union of a delta part across batches 0..upto_batch, starting
        from the newest compacted snapshot at or below upto_batch."""
        paths = self.delta_paths(name, upto_batch)
        if not paths:
            return None
        return self._read(*paths)

    # -- delta compaction (the Iceberg-snapshot equivalent) -----------------

    def _compact_dir(self, name: str, upto_batch: int) -> str:
        return os.path.join(self.root, f"compact_{name}_{upto_batch:05d}")

    def _newest_compaction(self, name: str, upto_batch: int):
        """(path, next_batch_to_read) of the newest usable compaction."""
        best = None
        prefix = f"compact_{name}_"
        for d in os.listdir(self.root):
            if d.startswith(prefix) and os.path.exists(
                os.path.join(self.root, d, "_COMMITTED")
            ):
                b = int(d[len(prefix):])
                if b <= upto_batch and (best is None or b > best):
                    best = b
        if best is None:
            return None
        return os.path.join(self._compact_dir(name, best)), best + 1

    def compact(self, upto_batch: int, names=DELTA_PARTS) -> None:
        """Rewrite each delta part's history 0..upto_batch into one
        compacted parquet snapshot; subsequent reads touch one snapshot +
        the per-batch tail instead of O(batches) directories. Commit point
        is an atomic marker-file rename, so a killed compaction is
        invisible. A 10^10-URL deployment runs this every k batches (or
        lets Iceberg do it natively via the SnapshotTable seam). The
        per-part rewrites are independent jobs — run them concurrently,
        same rationale as the parallel part writes in ``commit``."""
        with ThreadPoolExecutor(max_workers=max(1, len(names))) as ex:
            list(ex.map(lambda n: self._compact_one(n, upto_batch), names))

    def _compact_one(self, name: str, upto_batch: int) -> None:
        out = self._compact_dir(name, upto_batch)
        if os.path.exists(os.path.join(out, "_COMMITTED")):
            # Already compacted to exactly this batch: re-running would
            # select this directory as its own (lazy) read base and then
            # destroy it before the rewrite executes. Short-circuit.
            return
        df = self.read_deltas(name, upto_batch)
        if df is None:
            return
        # Write to a temp dir first: the lazy ``df`` may read the
        # previous compaction, which must stay intact until the new
        # snapshot is fully on disk. Swap + marker after the write.
        tmp_out = out + ".tmp"
        if os.path.exists(tmp_out):
            shutil.rmtree(tmp_out)
        df.coalesce(WRITE_PARTITIONS).write.mode("overwrite").parquet(tmp_out)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp_out, out)
        tmp = os.path.join(out, "_COMMITTED.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(upto_batch))
        os.replace(tmp, os.path.join(out, "_COMMITTED"))

    def stats(self, batch_id: int) -> dict:
        with open(self._manifest(batch_id)) as fh:
            return json.load(fh)["stats"]

    def part_rows(self, batch_id: int, name: str) -> int:
        """Exact row count of a written part from parquet footer metadata —
        pure driver-side file reads, no Spark job. Lets the driver loop
        test frontier emptiness off the manifest, and the batch record its
        admitted/docs counts, without a count() job each."""
        return _footer_rows(os.path.join(self._batch_dir(batch_id), name))

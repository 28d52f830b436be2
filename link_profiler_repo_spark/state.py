"""Epoch-versioned state tables with atomic checkpoints.

Replaces the reference's Redis frontier persistence
(queue_system/smart_crawler_queue.py:213-254, at-least-once) with
snapshot-per-epoch tables + an atomically renamed checkpoint manifest —
exactly-once resume (SURVEY §4.2).

Layout (an Iceberg-equivalent laid out as plain parquet because the sandbox
has no Iceberg runtime jar; on a cluster each logical table below maps 1:1 to
an Iceberg table with `epoch` as a partition/snapshot dimension):

  {root}/{job_id}/
    frontier/epoch=N/   full snapshot of the live frontier at epoch N
    seen/epoch=N/       APPEND delta of URLs first crawled in epoch N
    edges/epoch=N/      append delta of link-graph edges
    metrics/epoch=N/    per-partition stage counters (lineage, north_rule)
    dead_letter/epoch=N/
    bloom_epoch{N}.npy  single-bitmap Bloom prefilter for the seen anti-join
                        (prefilter='single'; the bucketed 'sidecar' and
                        'cuckoo' layouts live in prefilter/, functions/sidecar.py)
    _checkpoint.json    {"epoch": N, "crawled": c, ...} — written tmp+rename

Reading `seen` uses directory-partition discovery so the epoch filter is
partition-pruned (only deltas <= checkpoint epoch are scanned); periodic
compaction folds deltas into one (mirrors Iceberg snapshot compaction).
"""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def read_pointer(path: str) -> int | None:
    """The generation a pointer file names; None if it was never written."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip() or 0)


def write_pointer(path: str, g: int) -> None:
    """Atomically point `path` at generation g (tmp file + rename): the
    single commit point of a generation swap."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".gen.tmp")
    with os.fdopen(fd, "w") as f:
        f.write(str(g))
    os.replace(tmp, path)


class StateStore:
    def __init__(self, root: str, job_id: str):
        self.dir = os.path.join(root, job_id)
        os.makedirs(self.dir, exist_ok=True)

    # -- checkpoint manifest -------------------------------------------------
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.dir, "_checkpoint.json")

    def read_checkpoint(self) -> dict | None:
        if not os.path.exists(self._ckpt_path):
            return None
        with open(self._ckpt_path) as f:
            return json.load(f)

    def commit(self, meta: dict) -> None:
        """Atomic: the epoch is committed iff the rename completed. A crash
        mid-epoch leaves the previous manifest intact (resume re-runs the
        epoch; all writes are per-epoch directories, so re-runs overwrite)."""
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".ckpt.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._ckpt_path)

    # -- job control (pause/resume/cancel) -------------------------------------
    # The reference drives these over Redis pub/sub (job_coordinator.py:
    # 282-369); here the control channel is a tmp+rename file polled at every
    # epoch boundary — the only safe preemption points in an exactly-once
    # epoch loop. 'paused' stops after the current epoch's commit (resume
    # picks up from the checkpoint); 'cancelled' stops permanently.

    @property
    def _control_path(self) -> str:
        return os.path.join(self.dir, "_control.json")

    def write_control(self, status: str) -> None:
        assert status in ("running", "paused", "cancelled"), status
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".ctl.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"status": status}, f)
        os.replace(tmp, self._control_path)

    def read_control(self) -> str:
        if not os.path.exists(self._control_path):
            return "running"
        with open(self._control_path) as f:
            return json.load(f).get("status", "running")

    def reset(self) -> None:
        """Delete all persisted state for this job — every table generation,
        the checkpoint manifest, bloom sidecars — but PRESERVE the control
        file (_control.json is the operator's command channel: a pre-staged
        pause/cancel applies to the next run). A FRESH (resume=False) run
        calls this first; otherwise a previous run's compacted seen
        generation (resolved through the persisted generation pointer, never
        overwritten by the new run's epoch writes) leaks ghost rows into
        `_not_seen` and silently truncates the crawl."""
        import shutil

        keep = os.path.basename(self._control_path)
        for name in os.listdir(self.dir):
            if name == keep:
                continue
            p = os.path.join(self.dir, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass

    # -- tables ---------------------------------------------------------------
    # Each logical table lives under a GENERATION directory ({table} for gen 0,
    # {table}__gen{g} after g compactions) resolved through a tiny pointer file
    # written tmp+rename. Compaction writes the next generation COMPLETELY,
    # atomically bumps the pointer, and only then deletes the old generation —
    # a crash at any point leaves exactly one complete generation readable
    # (ADVICE r01: the old in-place compact lost the table if it died between
    # delete and install).

    def _gen_path(self, table: str) -> str:
        return os.path.join(self.dir, f"_{table}.gen")

    def _gen(self, table: str) -> int:
        return read_pointer(self._gen_path(table)) or 0

    def _set_gen(self, table: str, g: int) -> None:
        write_pointer(self._gen_path(table), g)

    def _table_dir(self, table: str, gen: int | None = None) -> str:
        g = self._gen(table) if gen is None else gen
        return os.path.join(self.dir, table if g == 0 else f"{table}__gen{g}")

    def _epoch_dir(self, table: str, epoch: int) -> str:
        return os.path.join(self._table_dir(table), f"epoch={epoch}")

    def write_epoch(
        self, table: str, epoch: int, df: DataFrame, mode: str = "overwrite",
        coalesce: int | None = None,
    ) -> None:
        # `epoch` lives in the directory name (partition column on read);
        # drop any data column of the same name to avoid a read-side clash.
        if "epoch" in df.columns:
            df = df.drop("epoch")
        if coalesce:
            df = df.coalesce(coalesce)
        df.write.mode(mode).parquet(self._epoch_dir(table, epoch))

    def read_epoch(self, spark: SparkSession, table: str, epoch: int) -> DataFrame:
        return spark.read.parquet(self._epoch_dir(table, epoch))

    def read_deltas(self, spark: SparkSession, table: str, upto_epoch: int) -> DataFrame | None:
        """Union of all epoch deltas <= upto_epoch, partition-pruned."""
        base = self._table_dir(table)
        if not os.path.isdir(base) or not os.listdir(base):
            return None
        df = spark.read.option("basePath", base).parquet(base)
        return df.filter(F.col("epoch") <= upto_epoch)

    def compact(self, spark: SparkSession, table: str, upto_epoch: int, keep_epoch: int = 0) -> None:
        """Fold all deltas <= upto_epoch into one delta in a NEW generation
        directory (Iceberg snapshot-compaction equivalent), crash-safe:

          1. write {table}__gen{g+1}/epoch={keep_epoch} completely
          2. atomically bump the generation pointer (the commit point)
          3. delete the previous generation directory

        A crash before (2) leaves the old generation live and the half-written
        new one as garbage (overwritten by the next compact); a crash after
        (2) leaves the new generation live and the old one as garbage."""
        import shutil

        df = self.read_deltas(spark, table, upto_epoch)
        if df is None:
            return
        old_gen = self._gen(table)
        old_dir = self._table_dir(table, old_gen)
        new_gen = old_gen + 1
        new_dir = self._table_dir(table, new_gen)
        if os.path.isdir(new_dir):  # garbage from a prior crash before commit
            shutil.rmtree(new_dir)
        df.drop("epoch").write.parquet(os.path.join(new_dir, f"epoch={keep_epoch}"))
        self._set_gen(table, new_gen)  # commit point
        # Reclaim ALL generations below the pointer, not just old_gen — a crash
        # after a previous pointer bump but before its delete orphans that
        # generation, and the seen table is the largest state at design scale.
        for g in range(new_gen):
            shutil.rmtree(self._table_dir(table, g), ignore_errors=True)

    def retire(
        self,
        spark: SparkSession,
        table: str,
        keys: DataFrame,
        key_col: str = "url_hash",
        broadcast_keys: bool = True,
    ) -> None:
        """Iceberg DELETE equivalent: fold all of `table`'s deltas into a new
        generation MINUS the given keys (anti-join on key_col), with the same
        crash-safe generation-pointer commit as compact(). Used by recrawl
        readmission (CrawlEngine.readmit) to retire due URLs from the exact
        seen set. A recrawl due-set is normally tiny next to the seen table,
        so the anti-join broadcasts the keys by default; pass
        broadcast_keys=False for a bulk retirement wave to let AQE pick."""
        import shutil

        df = self.read_deltas(spark, table, upto_epoch=1 << 62)
        if df is None:
            return
        k = keys.select(key_col).distinct()
        if broadcast_keys:
            k = F.broadcast(k)
        pruned = df.join(k, key_col, "left_anti")
        old_gen = self._gen(table)
        new_gen = old_gen + 1
        new_dir = self._table_dir(table, new_gen)
        if os.path.isdir(new_dir):  # garbage from a prior crash before commit
            shutil.rmtree(new_dir)
        pruned.drop("epoch").write.parquet(os.path.join(new_dir, "epoch=0"))
        self._set_gen(table, new_gen)  # commit point
        for g in range(new_gen):
            shutil.rmtree(self._table_dir(table, g), ignore_errors=True)

    # -- single-bitmap Bloom prefilter -------------------------------------------
    def write_bloom(self, epoch: int, bitmap: np.ndarray) -> str:
        path = os.path.join(self.dir, f"bloom_epoch{epoch}.npy")
        np.save(path, bitmap)
        return path

    def read_bloom(self, epoch: int) -> np.ndarray | None:
        path = os.path.join(self.dir, f"bloom_epoch{epoch}.npy")
        return np.load(path) if os.path.exists(path) else None

"""Epoch-versioned state tables with one atomic checkpoint.

Replaces the reference's Redis frontier persistence
(queue_system/smart_crawler_queue.py:213-254, at-least-once) with
snapshot-per-epoch tables + an atomically renamed checkpoint manifest —
exactly-once resume (SURVEY §4.2).

Layout (an Iceberg-equivalent laid out as plain parquet because the sandbox
has no Iceberg runtime jar; on a cluster each logical table below maps 1:1 to
an Iceberg table with `epoch` as a partition/snapshot dimension):

  {root}/{job_id}/
    frontier/epoch=N/   full snapshot of the live frontier at epoch N
                        (frontier_sched/ in scheduler mode)
    seen/epoch=N/       APPEND delta of URLs first crawled in epoch N
    edges/epoch=N/      append delta of link-graph edges
    metrics/epoch=N/    per-partition stage counters (lineage, north_rule)
    dead_letter/epoch=N/, enqueued/epoch=N/ (scheduler mode)
    {table}__gen{g}/    the same table after g rewrites (generation 0 has
                        no suffix)
    prefilter/          the Bloom or cuckoo prefilter of the seen anti-join,
                        a bucketed table with its own generation pointer
                        (functions/sidecar.py)
    _checkpoint.json    {"epoch": N, "crawled": c, <mode keys>,
                         "gens": {table: g}} — written tmp+rename

`_checkpoint.json` is the ONE commit point of all tables: a table's live
generation is the one its `gens` names (0 if absent), so any state change —
an epoch, a compaction, a recrawl readmission — becomes visible iff the
rename that installs its manifest completed. After the rename a commit
reclaims everything the new manifest cannot reach:

  - generation directories it does not name,
  - frontier / frontier_sched epoch snapshots below its epoch.

All older ones go, not only the previous, so garbage a crash leaves between
a rename and its reclaim goes at the next commit. Delta tables (seen, edges,
metrics, dead_letter, enqueued) are never reclaimed: reads of `seen` are
partition-pruned to the deltas <= the checkpoint epoch, and periodic
compaction (rewrite) folds them into one (Iceberg snapshot compaction).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# tables whose epoch=N directory is a full snapshot: resume reads only the
# committed epoch's
_SNAPSHOT_TABLES = ("frontier", "frontier_sched")
_GEN_DIR = re.compile(r"(.+)__gen(\d+)")


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

    def _gens(self) -> dict:
        """The committed generation of every rewritten table."""
        return (self.read_checkpoint() or {}).get("gens", {})

    def commit(self, meta: dict) -> None:
        """Atomic: the epoch is committed iff the rename completed. A crash
        mid-epoch leaves the previous manifest intact (resume re-runs the
        epoch; all writes are per-epoch directories, so re-runs overwrite).
        The manifest carries meta's `gens` if it has one (rewrite), else the
        committed ones; then everything it cannot reach is deleted."""
        manifest = {"gens": self._gens(), **meta}
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".ckpt.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._ckpt_path)
        self._reclaim(manifest["gens"], int(manifest["epoch"]))

    def _reclaim(self, gens: dict, epoch: int) -> None:
        """Delete what a manifest naming `gens` at `epoch` cannot reach."""
        for name in os.listdir(self.dir):
            gen = _GEN_DIR.fullmatch(name)
            table, g = (gen[1], int(gen[2])) if gen else (name, 0)
            if gens.get(table, 0) != g:  # a generation the manifest does not name
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)
        for table in _SNAPSHOT_TABLES:
            base = self._table_dir(table, gens.get(table, 0))
            for name in os.listdir(base) if os.path.isdir(base) else ():
                if name.startswith("epoch=") and int(name[6:]) < epoch:
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)

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
        the checkpoint manifest, the prefilter table — but PRESERVE the control
        file (_control.json is the operator's command channel: a pre-staged
        pause/cancel applies to the next run). A FRESH (resume=False) run
        calls this first; otherwise a previous run's compacted seen
        generation (never overwritten by the new run's epoch writes) leaks
        ghost rows into `_not_seen` and silently truncates the crawl."""
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
    # {table}__gen{g} after g rewrites); the checkpoint manifest names the
    # live one, so a generation swap commits with the epoch it belongs to.

    def _table_dir(self, table: str, gen: int | None = None) -> str:
        g = self._gens().get(table, 0) if gen is None else gen
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

    def rewrite(self, tables: dict[str, tuple[int, DataFrame]], meta: dict) -> None:
        """Replace whole tables and commit them with `meta` — the one
        generation swap behind seen compaction and recrawl readmission
        (Iceberg rewrite / DELETE equivalent). `tables` maps a table to
        (epoch, rows); crash-safe:

          1. write each table's next generation completely:
             {table}__gen{g+1}/epoch={epoch} holds all of its rows
          2. commit once, with a manifest naming the new generations
          3. the commit's reclaim deletes the old generations

        A crash before (2) leaves every old generation live and the
        half-written new ones as garbage (cleared by a retry, deleted by the
        next commit); a crash after (2) leaves the new generations live and
        the old ones as garbage the next commit deletes. The new generation
        is never a directory the rows' plans read, so no write empties its
        own input (ADVICE r01: the old in-place compact lost the table if it
        died between delete and install)."""
        gens = self._gens()
        new = {t: gens.get(t, 0) + 1 for t in tables}
        for t, (epoch, df) in tables.items():
            d = self._table_dir(t, new[t])
            shutil.rmtree(d, ignore_errors=True)
            df.drop("epoch").write.parquet(os.path.join(d, f"epoch={epoch}"))
        self.commit({**meta, "gens": {**gens, **new}})

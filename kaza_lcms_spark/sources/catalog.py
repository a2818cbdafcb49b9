"""Iceberg-style catalog: snapshot manifests, per-partition lineage,
resumable writes.

Re-grounds the reference's asset store + async export tasks
(sig-gis/kaza-lcms: ``ee.batch.Export.*`` at src/utils/exports.py:6-46,
existence checks at src/utils/check_exists.py:4-9, collection DDL via
``earthengine create collection`` at src/utils/primitives.py:118) as the
north rule requires: **every stage checkpoints per-partition lineage and
metrics so runs resume mid-tiling**.

No Iceberg runtime jars exist in this sandbox (SURVEY.md §7), so the
layer provides the same guarantees over plain parquet:

* a table = data files + a JSON **snapshot manifest** naming exactly the
  committed files (readers never see uncommitted/partial output);
* **atomic commit** = write data files → write snapshot-N.json → rename
  a pointer file (POSIX rename atomicity);
* **per-partition lineage**: each committed partition records row count,
  wall seconds, and wrote-at timestamp — the resume set and the metrics
  sink (S13) in one structure. Partitions are written one commit group
  per Spark job, so ``wall_s`` is the group's write wall, shared by every
  partition of the group;
* **resume**: a re-run lists pending = requested − committed partitions
  and processes only those; a crashed run's partial files are absent from
  the manifest and invisible to readers.

Swapping in real Iceberg is mechanical: manifest → Iceberg snapshot,
pointer rename → catalog commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: synthetic columns of the group writer: the row's index in its commit
#: group (the staging directory key) and its order after ``layout``
_GROUP_TAG = "__p"
_SEQ = "__seq"


@dataclass
class Lineage:
    """One committed partition's manifest entry. ``n_rows`` is read from
    the parquet footers of ``files``; ``wall_s`` is the write wall of the
    commit group that wrote the partition (one Spark job for the whole
    group, so every partition of a group carries the same value — summed
    over appended batches); ``ts`` is the commit time."""

    partition: str
    n_rows: int
    wall_s: float
    ts: float
    files: list[str] = field(default_factory=list)


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ----------------------------------------------------------- metadata

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._tdir(name), "metadata", "CURRENT")

    def table_exists(self, name: str) -> bool:
        """S8: the reference's check_exists (getAsset -> 0/1)."""
        return os.path.exists(self._pointer(name))

    def create_table(self, name: str) -> None:
        """S9: collection/folder DDL."""
        os.makedirs(os.path.join(self._tdir(name), "data"), exist_ok=True)
        os.makedirs(os.path.join(self._tdir(name), "metadata"), exist_ok=True)

    def _read_manifest(self, name: str, snapshot: int | None = None) -> dict:
        """CURRENT manifest, or a pinned snapshot (time travel — every
        snapshot-N.json is retained, exactly like Iceberg's metadata)."""
        if snapshot is not None:
            path = os.path.join(self._tdir(name), "metadata",
                                f"snapshot-{snapshot}.json")
            if not os.path.exists(path):
                raise ValueError(f"table {name} has no snapshot {snapshot}")
            with open(path) as f:
                return json.load(f)
        if not self.table_exists(name):
            return {"snapshot": 0, "partitions": {}}
        with open(self._pointer(name)) as f:
            current = f.read().strip()
        with open(os.path.join(self._tdir(name), "metadata", current)) as f:
            return json.load(f)

    def _commit(self, name: str, manifest: dict) -> None:
        """Atomic snapshot commit: write snapshot-N.json, then rename a
        temp pointer onto CURRENT (atomic on POSIX)."""
        mdir = os.path.join(self._tdir(name), "metadata")
        snap = f"snapshot-{manifest['snapshot']}.json"
        with open(os.path.join(mdir, snap), "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(mdir, f".ptr-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._pointer(name))

    # ------------------------------------------------------------- reads

    def committed_partitions(self, name: str) -> set[str]:
        return set(self._read_manifest(name)["partitions"])

    def lineage(self, name: str) -> list[Lineage]:
        m = self._read_manifest(name)
        return [Lineage(partition=k, **{kk: vv for kk, vv in v.items()})
                for k, v in sorted(m["partitions"].items())]

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot history (id, n_partitions, n_rows, latest commit ts)
        — the Iceberg `snapshots` metadata table analog."""
        mdir = os.path.join(self._tdir(name), "metadata")
        out = []
        if not os.path.isdir(mdir):
            return out
        for fn in sorted(os.listdir(mdir)):
            if not fn.startswith("snapshot-") or not fn.endswith(".json"):
                continue
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            parts = m["partitions"].values()
            out.append({
                "snapshot": m["snapshot"],
                "n_partitions": len(parts),
                "n_rows": sum(p["n_rows"] for p in parts),
                "ts": max((p["ts"] for p in parts), default=0.0),
            })
        out.sort(key=lambda s: s["snapshot"])
        return out

    def read_table(self, spark: SparkSession, name: str,
                   partitions: list[str] | None = None,
                   snapshot: int | None = None) -> DataFrame:
        """Read exactly the committed files (partial/aborted writes are
        invisible — they are not in the manifest).

        ``partitions`` prunes at the MANIFEST level: only the named
        partitions' files are handed to the scan — the catalog half of
        partition pruning (the driver-side half derives the partition
        list from an AOI cell cover, SURVEY.md §4). The scan never
        opens, lists, or footer-reads pruned files.

        ``snapshot`` pins the read to a historical snapshot (time
        travel): data files are immutable once committed, so reading an
        old manifest reproduces the table exactly as of that commit —
        the audit/replay semantics Iceberg gives a 100 TB pipeline."""
        m = self._read_manifest(name, snapshot=snapshot)
        parts = m["partitions"]
        if partitions is not None:
            want = {str(p) for p in partitions}
            parts = {k: v for k, v in parts.items() if k in want}
        files = [f for p in parts.values() for f in p["files"]]
        if not files:
            raise ValueError(f"table {name} has no committed data in "
                             f"{'selected partitions' if partitions else 'any partition'}")
        return spark.read.parquet(*files)

    # ------------------------------------------------------- maintenance

    def vacuum(self, name: str, dry_run: bool = False) -> dict:
        """Delete orphaned data files — files on disk that NO snapshot
        manifest references (the Iceberg ``remove_orphan_files`` analog).
        Orphans come from crashed writes: a run that died between the
        parquet write and the manifest commit leaves its uuid directory
        behind, invisible to readers but consuming storage forever.

        Every file named by ANY retained snapshot is kept, so time
        travel to historical snapshots still reproduces them exactly.
        Returns ``{"removed": n, "kept": n, "bytes_reclaimed": b}``;
        ``dry_run`` reports without deleting."""
        # Manifest paths are stored as the writer built them (catalog
        # root as given — possibly relative to the WRITER's CWD), so
        # resolving them against THIS process's CWD (os.path.abspath)
        # mis-classifies every committed file as orphaned when vacuum
        # runs from a different directory or via a differently-spelled
        # root. Every legitimate data file lives at
        # data/<col>=<key>/<uuid>/<file> under the table dir ('=' in the
        # partition component and hex uuids mean no component collides
        # with 'data'), so compare on that 3-component suffix instead.
        # A write that crashed before its commit may also leave a
        # staging directory data/_stage-<uuid>/__p=<i>/<file>; no
        # manifest names those files, so they are orphans too.
        def _canon(p: str) -> tuple:
            return tuple(os.path.normpath(p).split(os.sep)[-3:])

        mdir = os.path.join(self._tdir(name), "metadata")
        referenced: set[tuple] = set()
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn.startswith("snapshot-") and fn.endswith(".json"):
                    with open(os.path.join(mdir, fn)) as f:
                        m = json.load(f)
                    for p in m["partitions"].values():
                        referenced.update(_canon(x) for x in p["files"])
        ddir = os.path.join(self._tdir(name), "data")
        removed = kept = reclaimed = 0
        orphans: list[str] = []
        for dirpath, _dirs, files in os.walk(ddir):
            for fn in files:
                full = os.path.join(dirpath, fn)
                if _canon(full) in referenced:
                    kept += 1
                    continue
                removed += 1
                reclaimed += os.path.getsize(full)
                orphans.append(full)
        if referenced and removed and not kept:
            # a committed table whose referenced set matches NOTHING on
            # disk means the path comparison itself is broken — deleting
            # here would drop every committed file. Refuse loudly.
            raise RuntimeError(
                f"vacuum({name!r}): {len(referenced)} referenced files "
                f"match zero files on disk — refusing to delete "
                f"{removed} candidates (path scheme mismatch?)")
        if not dry_run:
            for full in orphans:
                os.remove(full)
        if not dry_run:
            # prune now-empty dirs bottom-up (keep the table root); list
            # afresh, since os.walk's listing predates the removals below
            # it (a staging dir empties only once its __p=<i> dirs go)
            for dirpath, _dirs, _files in os.walk(ddir, topdown=False):
                if dirpath != ddir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
        return {"removed": removed, "kept": kept,
                "bytes_reclaimed": reclaimed}

    # ------------------------------------------------------------ writes

    def _partition_values(self, df: DataFrame, partition_col: str) -> list:
        """Distinct partition values as (raw_value, manifest_key) pairs,
        ordered by key. Filtering uses the RAW value (eqNullSafe), never
        a cast-to-string round trip: str(None) == 'None' and str(True)
        == 'True' do not match Spark's CAST AS STRING ('NULL'/'true'),
        which would commit empty partitions while the real rows are
        dropped. Distinct raw values whose str() collide (a string
        column holding the literal 'None' next to NULLs) would silently
        merge manifest entries — refused loudly."""
        vals = [r[0] for r in df.select(partition_col).distinct().collect()]
        pairs = sorted(((v, str(v)) for v in vals), key=lambda p: p[1])
        keys = [k for _, k in pairs]
        if len(set(keys)) != len(keys):
            dupes = sorted({k for k in keys if keys.count(k) > 1})
            raise ValueError(
                f"partition values of {partition_col!r} collide when "
                f"stringified for manifest keys: {dupes}; rename or cast "
                "the partition column so keys are unique")
        return pairs

    def _write_group(self, df: DataFrame, name: str, partition_col: str,
                     group: list, layout=None
                     ) -> tuple[dict[str, tuple[list[str], int]], float]:
        """Write one commit group's partitions with ONE Spark job and
        return ``({key: (files, n_rows)}, wall_s)`` — nothing is
        committed. Shared by the batch writer and the streaming append
        sink so their on-disk layouts cannot diverge.

        Rows are tagged with their group index (``_GROUP_TAG``: a CASE
        over the RAW values, eqNullSafe as in :meth:`_partition_values`),
        written ``partitionBy`` the tag into ``data/_stage-<uuid>/``, and
        each ``<tag>=i`` directory is renamed onto
        ``data/<col>=<key>/<uuid>/``. The tag, not the real column, is
        the directory key, so the partition column stays inside the
        files. Row counts come from the parquet footers; a value with no
        rows gets no files and ``n_rows`` 0. A crash before the caller's
        commit leaves staged or moved files that no manifest names —
        orphans for :meth:`vacuum`."""
        if not group:
            return {}, 0.0
        t0 = time.time()
        ddir = os.path.join(self._tdir(name), "data")
        stage = os.path.join(ddir, f"_stage-{uuid.uuid4().hex}")
        col = F.col(partition_col)
        tag = F.when(col.eqNullSafe(F.lit(group[0][0])), F.lit(0))
        for i, (v, _) in enumerate(group[1:], 1):
            tag = tag.when(col.eqNullSafe(F.lit(v)), F.lit(i))
        tagged = df.withColumn(_GROUP_TAG, tag).where(F.col(_GROUP_TAG).isNotNull())
        if layout is not None:
            tagged = layout(tagged)
        # the partitioned writer sorts each task by the tag, which would
        # scramble the layout's row order inside a partition; sorting on
        # (tag, arrival order) first satisfies it and keeps that order
        (tagged.withColumn(_SEQ, F.monotonically_increasing_id())
         .sortWithinPartitions(_GROUP_TAG, _SEQ).drop(_SEQ)
         .write.partitionBy(_GROUP_TAG).parquet(stage))
        out = {}
        for i, (_, k) in enumerate(group):
            src = os.path.join(stage, f"{_GROUP_TAG}={i}")
            if not os.path.isdir(src):
                out[k] = ([], 0)
                continue
            dst = os.path.join(ddir, f"{partition_col}={k}", uuid.uuid4().hex)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            files = sorted(os.path.join(dst, f) for f in os.listdir(dst)
                           if f.endswith(".parquet"))
            out[k] = (files, sum(pq.read_metadata(f).num_rows for f in files))
        shutil.rmtree(stage)
        return out, round(time.time() - t0, 3)

    def write_partitioned(self, spark: SparkSession, df: DataFrame, name: str,
                          partition_col: str,
                          partitions_per_commit: int = 4,
                          fail_after: int | None = None,
                          layout=None) -> dict:
        """Resumable partitioned write with per-partition lineage.

        Plans the pending set (requested − committed), processes it in
        commit groups, and snapshots after each group — a crash loses at
        most one uncommitted group; a re-run skips everything committed.
        ``fail_after`` injects a crash after N commits (tests).

        ``layout`` (optional ``DataFrame -> DataFrame``) rearranges each
        commit group's rows before its write; it sees the whole group
        (all of the group's partitions, plus the ``__p`` tag column it
        must keep), so a file count it sets is per group, and the
        writer then splits each file by partition. Pass
        ``sources.layout.cell_clustered`` to get Morton-clustered files
        whose footer min/max stats prune AOI-bounded reads (the
        Iceberg-style sort-order half of the table spec; see
        tools/layout_probe.py for the measured effect).

        Scale note: each commit group is ONE Spark job (see
        :meth:`_write_group`) that scans the input once, whatever the
        group's partition count; the snapshot commit after it is
        driver-side file work only.
        """
        self.create_table(name)
        committed = self.committed_partitions(name)
        want = self._partition_values(df, partition_col)
        pending = [(v, k) for v, k in want if k not in committed]
        n_commits = 0
        for g0 in range(0, len(pending), partitions_per_commit):
            written, wall = self._write_group(
                df, name, partition_col,
                pending[g0:g0 + partitions_per_commit], layout=layout)
            manifest = self._read_manifest(name)
            ts = time.time()
            for k, (files, n) in written.items():
                manifest["partitions"][k] = {
                    "n_rows": n, "wall_s": wall, "ts": ts, "files": files,
                }
            manifest["snapshot"] += 1
            self._commit(name, manifest)
            n_commits += 1
            if fail_after is not None and n_commits >= fail_after:
                raise RuntimeError(f"injected failure after {n_commits} commits")
        return {"written": len(pending), "skipped": len(want) - len(pending),
                "snapshots": n_commits}

    def append_batch(self, spark: SparkSession, df: DataFrame, name: str,
                     partition_col: str, batch_id: int | None = None,
                     layout=None) -> dict:
        """Append one (micro-)batch into the table: new files land in the
        batch's partitions, partition lineage MERGES (files +=, n_rows
        +=), and the whole batch is written by ONE Spark job and commits
        as ONE snapshot, whatever its partition count.

        The exactly-once half of a streaming foreachBatch sink: Spark
        replays the in-flight batch after a failure, so a ``batch_id``
        at or below the manifest's ``last_batch_id`` is skipped — and a
        crash between file write and manifest commit leaves only
        orphaned files that no manifest names, invisible to
        :meth:`read_table`. Batch ids commit monotonically (Structured
        Streaming delivers them in order from one writer), so a single
        high-water mark is sufficient replay state.
        """
        self.create_table(name)
        manifest = self._read_manifest(name)
        if batch_id is not None and batch_id <= manifest.get("last_batch_id", -1):
            return {"written": 0, "n_rows": 0, "replayed_batch": True}
        parts = self._partition_values(df, partition_col)
        written, wall = self._write_group(df, name, partition_col, parts,
                                          layout=layout)
        total = 0
        ts = time.time()
        for k, (files, n) in written.items():
            total += n
            entry = manifest["partitions"].setdefault(
                k, {"n_rows": 0, "wall_s": 0.0, "ts": 0.0, "files": []})
            entry["n_rows"] += n
            entry["wall_s"] = round(entry["wall_s"] + wall, 3)
            entry["ts"] = ts
            entry["files"] += files
        manifest["snapshot"] += 1
        if batch_id is not None:
            manifest["last_batch_id"] = batch_id
        self._commit(name, manifest)
        return {"written": len(parts), "n_rows": total,
                "replayed_batch": False}

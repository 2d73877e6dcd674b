"""LakeTable: parquet data files + atomic JSON snapshot log.

An Iceberg-shaped table format built from scratch (no Iceberg/Delta jars in
the sandbox — verified). What it reproduces from the Iceberg model:

* **snapshots + manifest lists**: every commit writes
  ``snapshots/v{N}.json`` carrying the schema, committed stream epochs,
  and one immutable per-bucket *manifest file* reference
  (``manifests/b{bucket}-{uuid}.json``) listing that bucket's data
  files; buckets a commit does not touch reuse the parent's manifest,
  so commit serialization is O(touched buckets) — the Iceberg
  manifest-list shape, and what keeps the driver-side commit off the
  critical path at millions of files. The current version is an
  atomically-renamed ``VERSION`` pointer (POSIX ``rename``),
* **append + exact-file removal**: a commit appends files (merge-on-read
  deltas, ``cdc/mor.py``) and/or removes an exact file set (compaction),
  carrying every other file forward untouched,
* **hash-bucket partitioning**: data files live under
  ``data/b{bucket:05d}/``, bucket = ``pmod(murmur3(key...), n_buckets)``
  (the ``bucket(N, col)`` partition transform) — a MERGE writes and
  compaction rewrites only the buckets a batch touches, and reads prune
  to the buckets they need (manual partition pruning),
* **schema evolution**: the snapshot owns the schema; old files are read
  with the evolved schema (Spark 4's parquet reader null-fills added
  columns and widens int→long / float→double natively — verified),
* **time travel**: ``read(version=N)``,
* **exactly-once bookkeeping**: ``committed_epochs`` per stream id is part
  of the same atomic snapshot commit as the data it covers, so an epoch is
  never half-applied (SURVEY §4.2.3).

The table role mirrors the reference's keyed state store + serving sink in
one: the persisted-DataFrame state (``pyspark_interface.py:34-36``) and the
RediSearch keyed document store (``redis_interface.py:38-61``).

Single-writer discipline is assumed per table (one streaming query), with
optimistic concurrency (commit fails if VERSION moved) as the guard.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotConflictError(RuntimeError):
    """Another writer committed since this snapshot was read."""


@dataclass(frozen=True)
class FileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    #: "base" = fully-resolved rows; "delta" = merge-on-read folded
    #: actions appended by an epoch (Iceberg MOR / Paimon-LSM shape),
    #: resolved against base at read time, folded in by compaction
    kind: str = "base"
    #: per-column [min, max] harvested FREE from the parquet footer at
    #: write time — the Iceberg manifest-stats analog. Lets `read()`
    #: prune files against equality/range predicates without opening
    #: them (at 100 TB this skips file opens, not just row groups).
    stats: dict | None = None

    def to_json(self) -> dict:
        d = {"path": self.path, "bucket": self.bucket, "rows": self.rows, "kind": self.kind}
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"], d["bucket"], d["rows"], d.get("kind", "base"), d.get("stats")
        )

    def might_contain(self, col: str, value) -> bool:
        """Manifest pruning check: False only when the file's stats PROVE
        the value is absent; missing stats keep the file (safe)."""
        if not self.stats or col not in self.stats:
            return True
        lo, hi = self.stats[col]
        if lo is None or hi is None:
            return True
        return lo <= value <= hi


@dataclass(frozen=True)
class Snapshot:
    version: int
    parent: int | None
    schema: T.StructType
    files: tuple[FileEntry, ...]
    committed_epochs: dict[str, list[int]]
    props: dict = field(default_factory=dict)
    ts: float = 0.0
    #: bucket → {"path": manifest file (relative), "rows", "n_files"}.
    #: The stored form of ``files`` (Iceberg manifest-list shape): the
    #: snapshot JSON references one immutable manifest file per bucket,
    #: and a commit REUSES the parent's manifest for every bucket it did
    #: not touch — commit serialization cost is O(touched buckets), not
    #: O(table). At 100 TB (millions of data files) inlining every file
    #: into every snapshot would make the driver-side commit itself the
    #: bottleneck; with manifests a steady-state CDC epoch writes one
    #: snapshot JSON of n_buckets lines plus manifests for the buckets
    #: its batch touched.
    manifests: dict[int, dict] = field(default_factory=dict)

    def has_epoch(self, stream_id: str, epoch_id: int) -> bool:
        return epoch_id in self.committed_epochs.get(stream_id, ())

    def to_json_manifests(self) -> dict:
        """Manifest-list serialization: files live in per-bucket manifest
        files (``self.manifests``), the snapshot carries only their paths
        + summary stats."""
        return {
            "version": self.version,
            "parent": self.parent,
            "ts": self.ts,
            "schema": json.loads(self.schema.json()),
            "manifests": {str(b): m for b, m in sorted(self.manifests.items())},
            "committed_epochs": self.committed_epochs,
            "props": self.props,
        }

    @staticmethod
    def from_json(d: dict, files: tuple[FileEntry, ...]) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            schema=T.StructType.fromJson(d["schema"]),
            files=files,
            committed_epochs={k: list(v) for k, v in d["committed_epochs"].items()},
            props=d.get("props", {}),
            ts=d.get("ts", 0.0),
            manifests={int(b): m for b, m in d["manifests"].items()},
        )


def _footer_stats(meta, columns: list[str]) -> dict | None:
    """[min, max] per requested column from a parquet footer (free: the
    footer is already read for the row count). Strings/ints/floats only;
    columns without complete footer stats are skipped (pruning stays
    safe — missing stats keep the file)."""
    if not columns:
        return None
    out: dict[str, list] = {}
    wanted = set(columns)
    for rg in range(meta.num_row_groups):
        for ci in range(meta.num_columns):
            col = meta.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in wanted:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                out[name] = [None, None]
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
            cur = out.get(name)
            if cur is None or cur == [None, None]:
                out[name] = [mn, mx] if cur is None else [None, None]
            elif cur[0] is not None:
                out[name] = [min(cur[0], mn), max(cur[1], mx)]
    cleaned = {k: v for k, v in out.items() if v[0] is not None}
    return cleaned or None


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _atomic_create_json(path: str, payload: dict) -> None:
    """Atomically create ``path`` with the given content, failing with
    ``FileExistsError`` if it already exists. ``os.link`` is the POSIX
    compare-and-swap here: unlike check-then-rename (which lets two
    racing committers both pass the check and the second rename silently
    clobber the first — a lost update), a hard link to an existing name
    fails atomically in the filesystem."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


#: process-wide manifest cache — manifest files are immutable (uuid
#: named, never rewritten), so caching by absolute path is always safe;
#: LakeTable handles are created per-epoch, so the cache must outlive
#: them for a streaming replay to pay each manifest read once
_MANIFEST_CACHE: dict[str, tuple[FileEntry, ...]] = {}
_MANIFEST_CACHE_MAX = 8192


class LakeTable:
    """Handle to a minilake table rooted at a local/posix directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # ---------- manifests ----------

    def _load_manifest(self, relpath: str) -> tuple[FileEntry, ...]:
        abspath = os.path.join(self.root, relpath)
        hit = _MANIFEST_CACHE.get(abspath)
        if hit is None:
            with open(abspath) as f:
                d = json.load(f)
            hit = tuple(FileEntry.from_json(x) for x in d["files"])
            if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                _MANIFEST_CACHE.clear()
            _MANIFEST_CACHE[abspath] = hit
        return hit

    def _write_manifest(self, bucket: int, files: list[FileEntry]) -> dict:
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        rel = f"manifests/b{bucket:05d}-{uuid.uuid4().hex}.json"
        _atomic_write_json(
            os.path.join(self.root, rel),
            {"bucket": bucket, "files": [f.to_json() for f in files]},
        )
        _MANIFEST_CACHE[os.path.join(self.root, rel)] = tuple(files)
        return {
            "path": rel,
            "rows": sum(f.rows for f in files),
            "n_files": len(files),
        }

    # ---------- creation / loading ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_columns: list[str],
        n_buckets: int = 32,
        props: dict | None = None,
    ) -> "LakeTable":
        """CREATE TABLE: empty snapshot v0 (ref empty-state bootstrap,
        ``pyspark_interface.py:34``). Refuses to clobber an existing
        table — resetting VERSION under a live checkpoint would silently
        empty the table (Iceberg CREATE TABLE semantics)."""
        if cls.exists(root):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = cls(spark, root)
        snap = Snapshot(
            version=0,
            parent=None,
            schema=schema,
            files=(),
            committed_epochs={},
            props={"key_columns": list(key_columns), "n_buckets": n_buckets, **(props or {})},
            ts=time.time(),
        )
        _atomic_write_json(table._snapshot_path(0), snap.to_json_manifests())
        _atomic_write_json(table._version_path(), {"version": 0})
        return table

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "VERSION"))

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{version}.json")

    def _version_path(self) -> str:
        return os.path.join(self.root, "VERSION")

    def current_version(self) -> int:
        """Latest committed version. The version pointer is a read-fast
        cache; the snapshot FILES are the commit authority (they are
        created exclusively, the pointer is written after). If a writer
        crashed — or a racing writer is mid-commit — between snapshot
        create and pointer update, the pointer lags: probe forward to
        the newest contiguous snapshot so no committed state is ever
        invisible (and a conflicting committer can't wedge on a version
        that already exists)."""
        with open(self._version_path()) as f:
            v = json.load(f)["version"]
        while os.path.exists(self._snapshot_path(v + 1)):
            v += 1
        return v

    def snapshot(
        self, version: int | None = None, buckets: set[int] | None = None
    ) -> Snapshot:
        """Load a snapshot, materializing its file entries from the
        per-bucket manifests. ``buckets`` restricts the manifest load to
        that subset — the metadata side of partition pruning (a pruned
        read opens O(touched) manifest files, not O(n_buckets)). A
        bucket-restricted snapshot is a partial FILE view for reads
        only; ``commit`` always loads the full snapshot."""
        if version is None:
            version = self.current_version()
        with open(self._snapshot_path(version)) as f:
            d = json.load(f)
        files: list[FileEntry] = []
        for b in sorted(int(k) for k in d["manifests"]):
            if buckets is not None and b not in buckets:
                continue
            files.extend(self._load_manifest(d["manifests"][str(b)]["path"]))
        return Snapshot.from_json(d, files=tuple(files))

    def snapshot_header(self, version: int | None = None) -> Snapshot:
        """Snapshot metadata (version/schema/epochs/props) WITHOUT
        materializing file entries — O(1) in table size. For metadata-
        only decisions (schema diff each epoch, version probes) where
        assembling every bucket's manifest is pure waste. ``files`` is
        empty; never hand a header to a reader."""
        if version is None:
            version = self.current_version()
        with open(self._snapshot_path(version)) as f:
            d = json.load(f)
        return Snapshot.from_json(d, files=())

    # ---------- key bucketing ----------

    def bucket_expr(self, snap: Snapshot | None = None) -> F.Column:
        """Iceberg-style bucket transform: pmod(murmur3(key cols), N).

        Spark's ``hash()`` is Murmur3 and stable across sessions/versions
        of this engine, so the same key always lands in the same bucket.
        """
        snap = snap or self.snapshot()
        keys = snap.props["key_columns"]
        n = snap.props["n_buckets"]
        return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n))

    # ---------- read ----------

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
        key_equals: dict | None = None,
    ) -> DataFrame:
        """Read a snapshot (optionally a past version / a bucket subset).

        Bucket pruning is the engine's partition pruning: a MERGE reads
        only the buckets its batch touches. ``key_equals`` (col → value)
        additionally prunes FILES whose manifest [min, max] stats prove
        the value absent (Iceberg manifest pruning) and applies the same
        equality as a pushed filter on the survivors. Files are read with
        the snapshot's (possibly evolved) schema — added columns
        null-fill, widened types promote, courtesy of the parquet reader.
        """
        snap = self.snapshot(version, buckets=buckets)
        files = [f for f in snap.files if buckets is None or f.bucket in buckets]
        if key_equals:
            files = [
                f
                for f in files
                if all(f.might_contain(c, v) for c, v in key_equals.items())
            ]
        base_files = [f for f in files if f.kind == "base"]
        delta_files = [f for f in files if f.kind == "delta"]
        df = self._read_files(snap, base_files)
        if delta_files:
            # merge-on-read: resolve appended delta actions against base
            from etl_kafka_project_spark.cdc.mor import delta_schema, resolve_deltas

            deltas = self._read_files(snap, delta_files, schema=delta_schema(snap))
            df = resolve_deltas(df, deltas, snap)
        if key_equals:
            for c, v in key_equals.items():
                df = df.filter(F.col(c) == F.lit(v))
        if not include_tombstones and "_deleted" in df.columns:
            df = df.filter(~F.col("_deleted"))
        return df

    def _read_files(
        self,
        snap: Snapshot,
        files: list[FileEntry],
        schema: T.StructType | None = None,
    ) -> DataFrame:
        schema = schema or snap.schema
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f.path) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    # ---------- write ----------

    def write_data_files(
        self,
        df: DataFrame,
        bucket_col: str = "_bucket",
        kind: str = "base",
        stats_columns: list[str] | None = None,
    ) -> list[FileEntry]:
        """Write a DataFrame (carrying its bucket id in ``bucket_col``) as
        new data files; returns entries to pass to :meth:`commit`.

        The caller controls parallelism by repartitioning before the call
        (e.g. salted repartition for write-skew, ``cdc/salting.py``).
        Files are written by Spark directly into a staging dir, then moved
        (same-filesystem rename) under ``data/``. Per-file [min, max] for
        ``stats_columns`` (default: the key columns) are lifted from the
        parquet footers into the manifest for read-time file pruning.
        """
        if stats_columns is None:
            # header read only: this default runs on the per-epoch write
            # hot path, and assembling every bucket's manifest just to
            # read props would be O(n_buckets) file opens per epoch
            try:
                stats_columns = list(self.snapshot_header().props["key_columns"])
            except FileNotFoundError:
                stats_columns = []
        staging = os.path.join(self.root, f"_staging-{uuid.uuid4().hex}")
        _t0 = time.time()
        df.write.partitionBy(bucket_col).mode("overwrite").parquet(staging)
        _t1 = time.time()
        entries: list[FileEntry] = []
        try:
            import pyarrow.parquet as pq

            for bucket_dir in sorted(os.listdir(staging)):
                if not bucket_dir.startswith(f"{bucket_col}="):
                    continue
                bucket = int(bucket_dir.split("=", 1)[1])
                dest_dir = os.path.join(self.root, "data", f"b{bucket:05d}")
                os.makedirs(dest_dir, exist_ok=True)
                for fn in sorted(os.listdir(os.path.join(staging, bucket_dir))):
                    if not fn.endswith(".parquet"):
                        continue
                    src = os.path.join(staging, bucket_dir, fn)
                    meta = pq.read_metadata(src)
                    rows = meta.num_rows
                    if rows == 0:
                        continue
                    stats = _footer_stats(meta, stats_columns)
                    prefix = "delta" if kind == "delta" else "part"
                    name = f"{prefix}-{uuid.uuid4().hex}.parquet"
                    os.rename(src, os.path.join(dest_dir, name))
                    entries.append(
                        FileEntry(
                            path=f"data/b{bucket:05d}/{name}",
                            bucket=bucket,
                            rows=rows,
                            kind=kind,
                            stats=stats,
                        )
                    )
        finally:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
        if os.environ.get("SPARK_GRAFT_MERGE_PHASES") == "1":
            import sys

            print(
                f"[write-files] spark_write={_t1 - _t0:.3f}s"
                f" staging_move={time.time() - _t1:.3f}s files={len(entries)}",
                file=sys.stderr,
                flush=True,
            )
        return entries

    def commit(
        self,
        expected_version: int,
        new_files: list[FileEntry] = (),
        removed_files: set[str] | None = None,
        schema: T.StructType | None = None,
        epoch: tuple[str, int] | None = None,
        props_update: dict | None = None,
    ) -> Snapshot:
        """Atomically commit a new snapshot.

        * carries forward all parent files except those in
          ``removed_files`` (compaction),
        * appends ``new_files``,
        * optionally evolves the schema and records a committed stream
          epoch — all in the SAME atomic rename, which is what makes the
          foreachBatch sink exactly-once (data+epoch can't diverge).

        Optimistic concurrency: fails with :class:`SnapshotConflictError`
        if the table moved past ``expected_version``.
        """
        current = self.current_version()
        if current != expected_version:
            raise SnapshotConflictError(
                f"table at v{current}, commit expected v{expected_version}"
            )
        parent = self.snapshot(current)
        kept = [
            f for f in parent.files if removed_files is None or f.path not in removed_files
        ]
        epochs = {k: list(v) for k, v in parent.committed_epochs.items()}
        if epoch is not None:
            stream_id, epoch_id = epoch
            if epoch_id in epochs.get(stream_id, ()):
                raise SnapshotConflictError(
                    f"epoch {epoch_id} of stream {stream_id} already committed"
                )
            epochs.setdefault(stream_id, []).append(epoch_id)
        new_version = current + 1

        # Incremental manifest maintenance: only buckets whose file set
        # changed get a new manifest file; every other bucket reuses the
        # parent's (immutable) manifest by reference. A schema-evolution
        # or epoch-only commit rewrites NO manifest at all. Manifests
        # are written BEFORE the snapshot CAS — a lost race or crash
        # leaves unreferenced uuid files, which is harmless garbage
        # (expire_snapshots vacuums them).
        changed = {f.bucket for f in new_files}
        if removed_files:
            changed |= {f.bucket for f in parent.files if f.path in removed_files}
        by_bucket: dict[int, list[FileEntry]] = {}
        for f in kept:
            by_bucket.setdefault(f.bucket, []).append(f)
        for f in new_files:
            by_bucket.setdefault(f.bucket, []).append(f)
        manifests: dict[int, dict] = {}
        for b, fl in by_bucket.items():
            if b in changed:
                manifests[b] = self._write_manifest(b, fl)
            else:
                manifests[b] = parent.manifests[b]

        snap = Snapshot(
            version=new_version,
            parent=current,
            schema=schema or parent.schema,
            files=tuple(kept) + tuple(new_files),
            committed_epochs=epochs,
            props={**parent.props, **(props_update or {})},
            ts=time.time(),
            manifests=manifests,
        )
        path = self._snapshot_path(new_version)
        try:
            # exclusive create IS the commit point: exactly one of any
            # set of racing committers can link this name (POSIX CAS) —
            # check-then-write would let the loser silently clobber the
            # winner's snapshot (lost update)
            _atomic_create_json(path, snap.to_json_manifests())
        except FileExistsError:
            raise SnapshotConflictError(
                f"snapshot v{new_version} already exists"
            ) from None
        _atomic_write_json(self._version_path(), {"version": new_version})
        return snap

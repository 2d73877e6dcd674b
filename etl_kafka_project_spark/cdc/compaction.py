"""Table maintenance: snapshot expiry (vacuum).

Mirrors Iceberg's ``expireSnapshots``: old snapshot JSONs are deleted
and data files referenced by NO retained snapshot are removed from disk.
Time travel keeps working for retained versions. Compaction and
tombstone purge live in ``cdc/mor.py`` (``compact_deltas``).
"""

from __future__ import annotations

import os

from etl_kafka_project_spark.minilake.table import LakeTable


def expire_snapshots(
    table: LakeTable, keep_last: int = 2, orphan_grace_sec: float = 600.0
) -> dict:
    """Delete snapshot JSONs older than the newest ``keep_last`` versions
    and any data file no retained snapshot references (vacuum).

    Unreferenced data/manifest files younger than ``orphan_grace_sec``
    are LEFT ALONE (Iceberg orphan-removal style): ``commit()`` stages
    data files and manifests BEFORE the snapshot CAS, so a vacuum racing
    an in-flight commit would otherwise delete files the winning snapshot
    is about to reference. The grace period only needs to exceed one
    commit's stage-to-CAS window (sub-second in practice); pass ``0.0``
    when the caller holds exclusive access.
    """
    import time

    now = time.time()

    def _expired(path: str) -> bool:
        try:
            return (now - os.path.getmtime(path)) >= orphan_grace_sec
        except OSError:
            return False  # concurrently removed/renamed — not ours

    current = table.current_version()
    floor = max(0, current - keep_last + 1)
    snap_dir = os.path.join(table.root, "snapshots")
    # a version inside the window may already be gone (an earlier run
    # with a smaller keep_last deleted it) — retain what exists, never
    # abort the vacuum on a historical gap
    keep_versions = [
        v
        for v in range(floor, current + 1)
        if os.path.exists(os.path.join(snap_dir, f"v{v}.json"))
    ]
    retained_files: set[str] = set()
    retained_manifests: set[str] = set()
    for v in keep_versions:
        snap = table.snapshot(v)
        retained_files |= {fe.path for fe in snap.files}
        retained_manifests |= {m["path"] for m in snap.manifests.values()}

    removed_snaps = 0
    for fn in os.listdir(snap_dir):
        if not (fn.startswith("v") and fn.endswith(".json")):
            continue
        v = int(fn[1:-5])
        # strictly below the floor only: a snapshot NEWER than the
        # captured current version is a commit that raced this vacuum —
        # deleting it would wedge the table (pointer ahead of the
        # newest JSON) and orphan the epoch's just-committed data
        if v < floor:
            os.remove(os.path.join(snap_dir, fn))
            removed_snaps += 1

    removed_data = 0
    data_dir = os.path.join(table.root, "data")
    for bucket_dir in os.listdir(data_dir):
        bdir = os.path.join(data_dir, bucket_dir)
        for fn in os.listdir(bdir):
            rel = f"data/{bucket_dir}/{fn}"
            full = os.path.join(bdir, fn)
            if rel not in retained_files and _expired(full):
                os.remove(full)
                removed_data += 1

    # manifest files referenced by no retained snapshot (expired
    # versions, or orphans from a crashed/lost-race commit)
    removed_manifests = 0
    manifest_dir = os.path.join(table.root, "manifests")
    if os.path.isdir(manifest_dir):
        for fn in os.listdir(manifest_dir):
            rel = f"manifests/{fn}"
            full = os.path.join(manifest_dir, fn)
            if rel not in retained_manifests and _expired(full):
                os.remove(full)
                removed_manifests += 1
    return {"snapshots_removed": removed_snaps, "data_files_removed": removed_data,
            "manifests_removed": removed_manifests,
            "retained_versions": keep_versions}

"""Deterministic CDC fixture generator (FIXTURES.md §1–§3).

Generates the binlog/WAL-shaped ``code_changes`` stream — ordered parquet
segment files a Structured Streaming file source tails — entirely from
``numpy.random.default_rng(seed)``; no external data. Properties
(FIXTURES.md §2, each switchable):

* strictly monotonic global ``lsn`` (the ordering authority),
* op mix ~ I:U:D ≈ 50:40:10 with first-per-key forced to I,
* hot-key skew: ``repo-000`` carries ~20% of all events,
* ~2% verbatim duplicate events (same lsn — replay no-op test),
* bounded out-of-order arrival: rows shuffled *within* a segment while
  segment order preserves LSN ranges,
* delete-then-reinsert sequences arise naturally from the op mix,
* schema-evolution variant: events after ``evolve_after_lsn`` carry
  ``author``/``size`` columns; optional late "old-writer" segments written
  without them.

The expected final state is computable by the trivially-correct pandas
replay in ``cdc/oracle.py``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["python", "java", "scala", "go", "js", "md"]
LANG_EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "js": "js", "md": "md"}
LANG_W = [0.35, 0.15, 0.10, 0.15, 0.15, 0.10]
DIRS = ["core", "util", "api", "io", "net", "db"]
BASE_TS = pd.Timestamp("2024-01-01", tz="UTC")
#: parquet types of the schema-evolution columns (``evolve_after_lsn``)
EVOLVED_TYPES = {"author": "string", "size": "int64"}


@dataclass(frozen=True)
class StreamSpec:
    n_events: int = 5_000
    n_keys: int = 800
    n_repos: int = 50
    hot_repo_share: float = 0.20
    dup_rate: float = 0.02
    shuffle_within_segment: bool = True
    n_segments: int = 10
    min_lines: int = 10
    max_lines: int = 40
    seed: int = 42
    evolve_after_lsn: int | None = None  # events past this carry author/size
    late_old_writer_segments: int = 0  # trailing segments written old-schema


def _make_keys(spec: StreamSpec, rng: np.random.Generator) -> pd.DataFrame:
    """Key universe: (repo, path, lang) with repo-000 hot."""
    n = spec.n_keys
    # assign each key a repo; hot repo gets extra mass so its EVENT share
    # (keys are drawn uniformly later within repo weighting) is ~20%
    repo_w = np.full(spec.n_repos, (1 - spec.hot_repo_share) / (spec.n_repos - 1))
    repo_w[0] = spec.hot_repo_share
    repo_idx = rng.choice(spec.n_repos, size=n, p=repo_w)
    lang_idx = rng.choice(len(LANGS), size=n, p=LANG_W)
    repos = [f"repo-{i:03d}" for i in repo_idx]
    langs = [LANGS[i] for i in lang_idx]
    paths = [
        f"src/{DIRS[rng.integers(len(DIRS))]}/{'mod'}_{k}.{LANG_EXT[langs[k]]}"
        for k in range(n)
    ]
    return pd.DataFrame({"repo": repos, "path": paths, "lang": langs})


def _content(repo: str, path: str, version: int, n_lines: int) -> str:
    return "\n".join(f"line {i} of {repo}/{path} v{version}" for i in range(n_lines))


def generate_events(spec: StreamSpec) -> pd.DataFrame:
    """The full ordered event log (pre-duplication, pre-shuffle)."""
    rng = np.random.default_rng(spec.seed)
    keys = _make_keys(spec, rng)
    n = spec.n_events
    key_idx = rng.integers(0, spec.n_keys, size=n)

    # ops: i.i.d. draw, then first occurrence of each key forced to I
    ops = rng.choice(np.array(["I", "U", "D"]), size=n, p=[0.40, 0.45, 0.15])
    _, first_pos = np.unique(key_idx, return_index=True)
    ops[first_pos] = "I"

    # per-key version counter (groupby cumcount, vectorized)
    order = np.argsort(key_idx, kind="stable")
    sorted_keys = key_idx[order]
    group_start = np.flatnonzero(np.r_[True, sorted_keys[1:] != sorted_keys[:-1]])
    starts = np.repeat(group_start, np.diff(np.r_[group_start, sorted_keys.size]))
    version = np.empty(n, dtype=np.int64)
    version[order] = np.arange(n) - starts

    lsn = np.arange(1, n + 1, dtype=np.int64)
    n_lines = rng.integers(spec.min_lines, spec.max_lines + 1, size=n)
    repo = keys["repo"].to_numpy()[key_idx]
    path = keys["path"].to_numpy()[key_idx]
    lang = keys["lang"].to_numpy()[key_idx]

    import hashlib

    is_del = ops == "D"
    content = [
        None if d else _content(r, p, int(v), int(nl))
        for d, r, p, v, nl in zip(is_del, repo, path, version, n_lines)
    ]
    commit = [
        None if d else hashlib.sha256(f"{r}/{p}/{v}".encode()).hexdigest()[:12]
        for d, r, p, v in zip(is_del, repo, path, version)
    ]
    df = pd.DataFrame(
        {
            "lsn": lsn,
            "op": ops,
            # microsecond precision: Spark's vectorized parquet reader maps
            # TIMESTAMP(MICROS) to TimestampType; nanos would fail the read
            "ts": (BASE_TS + pd.to_timedelta(lsn * 10, unit="ms")).astype(
                "datetime64[us, UTC]"
            ),
            "repo": repo,
            "path": path,
            "commit": commit,
            "lang": np.where(is_del, None, lang),
            "content": content,
        }
    )
    if spec.evolve_after_lsn is not None:
        cut = spec.evolve_after_lsn
        author = np.array([f"dev-{i % 17:02d}" for i in key_idx])
        size = np.array([len(c) if c else 0 for c in content], dtype=np.int64)
        df["author"] = np.where((lsn > cut) & ~is_del, author, None)
        df["size"] = pd.array(
            np.where(lsn > cut, size, -1), dtype="Int64"
        )
        df.loc[df["size"] == -1, "size"] = pd.NA
    return df


def write_segments(events: pd.DataFrame, out_dir: str, spec: StreamSpec) -> list[str]:
    """Write the stream as ordered parquet segment files with duplicates
    injected and bounded within-segment shuffling applied."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(spec.seed + 1)
    n = len(events)
    seg_size = max(1, -(-n // spec.n_segments))
    paths: list[str] = []
    evolved_cols = [c for c in EVOLVED_TYPES if c in events.columns]
    cut = spec.evolve_after_lsn
    for si in range(spec.n_segments):
        seg = events.iloc[si * seg_size : (si + 1) * seg_size]
        if seg.empty:
            break
        if spec.dup_rate > 0 and len(seg) > 1:
            k = max(1, int(len(seg) * spec.dup_rate))
            dup_rows = seg.iloc[rng.choice(len(seg), size=k, replace=False)]
            seg = pd.concat([seg, dup_rows], ignore_index=True)
        if spec.shuffle_within_segment:
            seg = seg.iloc[rng.permutation(len(seg))].reset_index(drop=True)
        # late old-writer segments: drop evolved columns entirely (a file
        # written by an old-schema producer)
        drop_evolved = (
            evolved_cols
            and cut is not None
            and si >= spec.n_segments - spec.late_old_writer_segments
        )
        out = seg.drop(columns=evolved_cols) if drop_evolved else seg
        table = pa.Table.from_pandas(out, preserve_index=False)
        # declared types, not inferred ones: a segment from before the
        # evolution holds an all-null column, which pandas infers as
        # parquet type null and a typed reader then refuses
        for c in [] if drop_evolved else evolved_cols:
            i = table.schema.get_field_index(c)
            table = table.set_column(i, c, table.column(c).cast(EVOLVED_TYPES[c]))
        path = os.path.join(out_dir, f"segment-{si:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    space_mtimes(paths)
    return paths


def space_mtimes(paths: list[str], step_sec: float = 0.005) -> None:
    """Stamp segment files with strictly-increasing mtimes, >= step_sec
    apart (well above Hadoop's 1 ms FileStatus resolution).

    A real binlog directory satisfies this for free — the producer
    rotates segments over time, so arrival order == mtime order. This
    generator writes all segments within ~2 ms, which can give two
    files the SAME millisecond mtime; Spark's FileStreamSource orders
    new files by modification time with no path tie-break, so tied
    segments may enter micro-batches out of log order — an out-of-order
    FIRST delivery that violates the engine's delivery contract
    (cdc/fold.py LSN_SAMPLE: lsns <= the key's applied max are verbatim
    re-deliveries) and lets ReplayJob's order guard trip on fixture
    noise instead of real violations."""
    base = time.time()
    for i, p in enumerate(paths):
        t = base + i * step_sec
        os.utime(p, (t, t))


def write_segments_json(events: pd.DataFrame, out_dir: str, spec: StreamSpec) -> list[str]:
    """JSON-lines variant of :func:`write_segments` — one envelope per
    line, the Kafka-message shape (reference ``kafka_interface.py:39``),
    for the ``cdc/sources.py`` json_binlog reader."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(spec.seed + 1)
    n = len(events)
    seg_size = max(1, -(-n // spec.n_segments))
    paths: list[str] = []
    for si in range(spec.n_segments):
        seg = events.iloc[si * seg_size : (si + 1) * seg_size]
        if seg.empty:
            break
        if spec.shuffle_within_segment:
            seg = seg.iloc[rng.permutation(len(seg))].reset_index(drop=True)
        path = os.path.join(out_dir, f"segment-{si:05d}.json")
        seg.to_json(path, orient="records", lines=True, date_format="iso")
        paths.append(path)
    space_mtimes(paths)
    return paths


def generate_stream(
    out_dir: str, spec: StreamSpec | None = None, fmt: str = "parquet"
) -> tuple[pd.DataFrame, list[str]]:
    """Generate events and write segments; returns (event log, segment paths)."""
    spec = spec or StreamSpec()
    events = generate_events(spec)
    if fmt == "json":
        paths = write_segments_json(events, out_dir, spec)
    else:
        paths = write_segments(events, out_dir, spec)
    return events, paths

"""End-to-end replay equivalence: micro-batched engine merges vs the pandas
oracle — the final-state correctness gate (BASELINE.json metric)."""

import pandas as pd
import pytest

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_events
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig

CFG = EngineConfig(n_buckets=8)


def _final_state_pdf(table):
    df = table.read().select(
        "repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn", "row_version"
    )
    pdf = df.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    return pdf


def _events(rows) -> pd.DataFrame:
    """Hand-built events from ``(lsn, op, repo)`` triples, one path."""
    return pd.DataFrame(
        {
            "lsn": pd.array([r[0] for r in rows], dtype="Int64"),
            "op": [r[1] for r in rows],
            "ts": pd.to_datetime(["2026-01-01"] * len(rows)),
            "repo": [r[2] for r in rows],
            "path": ["p"] * len(rows),
            "commit": [f"c{r[0]}" for r in rows],
            "lang": ["rust"] * len(rows),
            "content": [f"body{r[0]}" for r in rows],
        }
    )


def _bucket_of(spark, repos: list[str], n_buckets: int) -> dict[str, int]:
    from pyspark.sql import functions as F

    bdf = spark.createDataFrame([(r, "p") for r in repos], "repo string, path string")
    return {
        r["repo"]: r["b"]
        for r in bdf.withColumn("b", F.pmod(F.hash("repo", "path"), F.lit(n_buckets))).collect()
    }


def _replay_in_batches(spark, table, events: pd.DataFrame, n_batches: int):
    n = len(events)
    size = -(-n // n_batches)
    for i in range(n_batches):
        chunk = events.iloc[i * size : (i + 1) * size]
        if chunk.empty:
            continue
        sdf = spark.createDataFrame(chunk, EVENT_SCHEMA)
        merge_events(table, sdf, epoch=("t", i))


@pytest.mark.parametrize("n_batches", [1, 7])
def test_replay_matches_oracle(spark, tmp_table_dir, n_batches):
    spec = StreamSpec(n_events=1500, n_keys=200, n_segments=5, min_lines=2, max_lines=5)
    events = generate_events(spec)
    table = create_code_table(spark, tmp_table_dir, CFG)
    _replay_in_batches(spark, table, events, n_batches)

    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()), check_dtype=False
    )


def test_replay_with_in_batch_duplicates_matches_oracle(spark, tmp_table_dir):
    spec = StreamSpec(n_events=600, n_keys=80, min_lines=2, max_lines=4)
    events = generate_events(spec)
    # inject verbatim duplicates inside the (single) batch
    dup = events.sample(frac=0.05, random_state=7)
    noisy = (
        pd.concat([events, dup], ignore_index=True)
        .sample(frac=1.0, random_state=8)  # scramble arrival order too
        .reset_index(drop=True)
    )
    table = create_code_table(spark, tmp_table_dir, CFG)
    _replay_in_batches(spark, table, noisy, 1)
    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_idempotent_reapply_same_fold_is_noop(spark, tmp_table_dir):
    """Applying the same events twice (without epoch skip) must not change
    state — LWW staleness guard (s._max_lsn <= t.last_lsn)."""
    spec = StreamSpec(n_events=300, n_keys=50, min_lines=2, max_lines=3)
    events = generate_events(spec)
    table = create_code_table(spark, tmp_table_dir, CFG)
    sdf = spark.createDataFrame(events, EVENT_SCHEMA)
    merge_events(table, sdf)
    first = _final_state_pdf(table)
    merge_events(table, sdf)  # replay, no epoch bookkeeping
    second = _final_state_pdf(table)
    pd.testing.assert_frame_equal(first, second)


def test_two_streams_with_interleaved_lsns_drop_their_own_redeliveries(spark, tmp_table_dir):
    """Two key-disjoint streams share one global lsn sequence, so each
    stream's lsns are sparse, and every later epoch also re-delivers
    some of its own stream's earlier events. The re-deliveries drop
    before the fold, so state equals the oracle including
    ``row_version``, and each stream's record stays ONE interval: a
    sparse span above the high-water mark extends the top interval."""
    spec = StreamSpec(n_events=900, n_keys=120, min_lines=2, max_lines=3)
    events = generate_events(spec)
    owner = events["repo"].str[-1].astype(int) % 2
    streams = {"a": events[owner == 0], "b": events[owner == 1]}
    table = create_code_table(spark, tmp_table_dir, CFG)
    for i, (lo, hi) in enumerate([(1, 300), (301, 600), (601, 900)]):
        for sid, ev in streams.items():
            chunk = ev[(ev.lsn >= lo) & (ev.lsn <= hi)]
            again = ev[ev.lsn < lo].iloc[::5]
            batch = pd.concat([chunk, again]).sample(frac=1.0, random_state=i)
            merge_events(table, spark.createDataFrame(batch, EVENT_SCHEMA), epoch=(sid, i))

    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_dtype=False)
    assert table.snapshot_header().lsn_intervals == {
        sid: [[int(ev.lsn.min()), int(ev.lsn.max())]] for sid, ev in streams.items()
    }


def test_sparse_stream_keeps_a_skipped_segment_wider_than_its_holes(spark, tmp_table_dir):
    """A stream of even lsns skips its middle segment. The next span has
    one hole per event, fewer than the skipped segment is wide, so the
    gap stays open: the segment's late first delivery is counted as
    out of order, not dropped as a re-delivery."""
    events = generate_events(StreamSpec(n_events=900, n_keys=120, min_lines=2, max_lines=3))
    events = events[events.lsn % 2 == 0]
    chunks = [events[(events.lsn >= lo) & (events.lsn <= lo + 299)] for lo in (1, 301, 601)]
    table = create_code_table(spark, tmp_table_dir, CFG)
    for i, c in enumerate([chunks[0], chunks[2]]):
        merge_events(table, spark.createDataFrame(c, EVENT_SCHEMA), epoch=("s", i))
    assert table.snapshot_header().lsn_intervals["s"] == [[2, 300], [602, 900]]

    stats = merge_events(table, spark.createDataFrame(chunks[1], EVENT_SCHEMA), epoch=("s", 2))
    assert stats.redeliveries_dropped == 0
    assert stats.order_violation == (302, 900, len(chunks[1]))


def test_sha256_invariant_pandas_udf_equals_builtin(spark, tmp_table_dir):
    from etl_kafka_project_spark.functions.hashing import sha256_pandas

    spec = StreamSpec(n_events=200, n_keys=40, min_lines=2, max_lines=3)
    events = generate_events(spec)
    table = create_code_table(spark, tmp_table_dir, CFG)
    merge_events(table, spark.createDataFrame(events, EVENT_SCHEMA))
    df = table.read().withColumn("sha_udf", sha256_pandas("content"))
    bad = df.filter(
        ~df.sha_udf.eqNullSafe(df.content_sha256)
    ).count()
    assert bad == 0


def test_mor_cross_epoch_subset_redelivery(spark, tmp_table_dir):
    """A later epoch re-delivering a SUBSET of a key's already-applied
    events must be a complete no-op under MOR (round-1 regression: the
    resolve dropped duplicate delta rows on (key, _max_lsn) and could
    keep the subset row, silently losing the superset's column writes)."""
    import pandas as pd

    events = pd.DataFrame(
        {
            "lsn": pd.array([3, 4, 5], dtype="Int64"),
            "op": ["I", "U", "U"],
            "ts": pd.to_datetime(["2026-01-01"] * 3),
            "repo": ["r"] * 3,
            "path": ["p"] * 3,
            # lsn 3: full insert; lsn 4: lang only; lsn 5: commit only
            "commit": ["c3", None, "c5"],
            "lang": [None, "rust", None],
            "content": ["body3", None, None],
        }
    )
    table = create_code_table(spark, tmp_table_dir, CFG)
    merge_events(table, spark.createDataFrame(events, EVENT_SCHEMA), epoch=("t", 0))
    # epoch 1 re-delivers ONLY the newest event (lsn 5)
    redelivered = spark.createDataFrame(events[events.lsn == 5], EVENT_SCHEMA)
    merge_events(table, redelivered, epoch=("t", 1))

    row = table.read().collect()[0].asDict()
    assert row["commit"] == "c5"
    assert row["lang"] == "rust"  # the lsn-4 write must survive
    assert row["content"] == "body3"  # the lsn-3 write must survive
    assert row["last_lsn"] == 5
    assert row["row_version"] == 3  # re-delivery must not re-count

    # same invariant must hold across compaction + a further re-delivery
    from etl_kafka_project_spark.cdc.mor import compact_deltas

    compact_deltas(table)
    merge_events(table, redelivered, epoch=("t", 2))
    row = table.read().collect()[0].asDict()
    assert (row["commit"], row["lang"], row["content"], row["row_version"]) == (
        "c5", "rust", "body3", 3,
    )


def test_mor_redelivery_after_compaction_respects_erased_columns(spark, tmp_table_dir):
    """Regression (found by the redelivery property test): a column
    erased by a delete+reset barrier (value@7 → D@12 → I@13 with the
    column null) must STAY null when, AFTER compaction folded the
    barriers into the base row, a later epoch re-delivers the pre-delete
    write. Pre-fix, _encode_base_as_delta stamped null base columns at
    NEVER, so the stale lang@7 out-ranked the base's null-as-of-13 and
    resurrected the erased value."""
    import pandas as pd

    from etl_kafka_project_spark.cdc.mor import compact_deltas

    events = pd.DataFrame(
        {
            "lsn": pd.array([3, 7, 12, 13], dtype="Int64"),
            "op": ["I", "U", "D", "I"],
            "ts": pd.to_datetime(["2026-01-01"] * 4),
            "repo": ["r"] * 4,
            "path": ["p"] * 4,
            "commit": [None] * 4,
            "lang": [None, "go", None, None],
            "content": ["x", None, None, "seed"],
        }
    )
    table = create_code_table(spark, tmp_table_dir, CFG)
    merge_events(table, spark.createDataFrame(events, EVENT_SCHEMA), epoch=("t", 0))
    compact_deltas(table, delta_share=0.0)
    # verbatim re-delivery of the pre-delete events only
    redelivered = spark.createDataFrame(events[events.lsn.isin([3, 7])], EVENT_SCHEMA)
    merge_events(table, redelivered, epoch=("t", 1))

    row = table.read().collect()[0].asDict()
    assert row["lang"] is None, "erased column resurrected by re-delivery"
    assert row["content"] == "seed"
    assert row["last_lsn"] == 13
    assert row["row_version"] == 4


def test_mor_compaction_is_threshold_driven_per_bucket(spark, tmp_table_dir):
    """compact_deltas(delta_share=s): only buckets whose delta share
    crosses s rewrite; a cold bucket's base files stay byte-identical on
    disk and its delta rows keep resolving at read."""
    from etl_kafka_project_spark.cdc.mor import compact_deltas

    cfg = EngineConfig(n_buckets=2)
    table = create_code_table(spark, tmp_table_dir, cfg)
    # sort candidate keys into the 2 buckets
    cand = [f"r{i}" for i in range(20)]
    bucket_of = _bucket_of(spark, cand, 2)
    cold_keys = [r for r in cand if bucket_of[r] == 0][:10]
    hot_key = next(r for r in cand if bucket_of[r] == 1)

    def ev(rows):
        return spark.createDataFrame(_events(rows), EVENT_SCHEMA)

    # epoch 0: seed both buckets, full-compact to base
    seed = [(i, "I", k) for i, k in enumerate([*cold_keys, hot_key])]
    merge_events(table, ev(seed), epoch=("t", 0))
    assert compact_deltas(table, delta_share=0.0)["compacted"]

    # epoch 1: heavy churn on the hot key, one touch on a cold key
    churn = [(100 + i, "U", hot_key) for i in range(5)] + [(200, "U", cold_keys[0])]
    merge_events(table, ev(churn), epoch=("t", 1))

    snap = table.snapshot()
    cold_base_before = sorted(
        f.path for f in snap.files if f.kind == "base" and f.bucket == 0
    )
    res = compact_deltas(table, delta_share=0.3)
    # hot bucket (share 1/2 >= 0.3) compacts; cold (1/11) skipped
    assert res["compacted"] and res["buckets"] == 1 and res["cold_buckets_skipped"] == 1
    snap2 = table.snapshot()
    assert sorted(
        f.path for f in snap2.files if f.kind == "base" and f.bucket == 0
    ) == cold_base_before
    assert any(f.kind == "delta" and f.bucket == 0 for f in snap2.files)
    assert not any(f.kind == "delta" and f.bucket == 1 for f in snap2.files)
    # the cold delta still resolves at read
    got = {r["repo"]: r for r in table.read().collect()}
    assert got[cold_keys[0]]["commit"] == "c200"
    assert got[hot_key]["commit"] == "c104"


def test_concurrent_merge_writers_conflict_then_retry(spark, tmp_table_dir):
    """Two writers merging from the same parent snapshot: commits
    serialize via optimistic concurrency — a loser (if the race
    materializes) raises SnapshotConflictError and its RETRY lands
    cleanly; the final state always contains both writers' keys."""
    import threading

    import pandas as pd

    from etl_kafka_project_spark.minilake.table import SnapshotConflictError

    table = create_code_table(spark, tmp_table_dir, CFG)

    def batch(repo, lsn0):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "lsn": pd.array([lsn0, lsn0 + 1], dtype="Int64"),
                    "op": ["I", "U"],
                    "ts": pd.to_datetime(["2026-01-01"] * 2),
                    "repo": [repo] * 2,
                    "path": ["p"] * 2,
                    "commit": [f"c{lsn0}", f"c{lsn0 + 1}"],
                    "lang": ["rust"] * 2,
                    "content": ["b1", "b2"],
                }
            ),
            EVENT_SCHEMA,
        )

    batches = {"wa": batch("repo-a", 10), "wb": batch("repo-b", 20)}
    failures: dict[str, BaseException] = {}

    def run(tag: str) -> None:
        try:
            merge_events(table, batches[tag], epoch=(tag, 0))
        except BaseException as e:  # record — thread exceptions vanish
            failures[tag] = e

    threads = [threading.Thread(target=run, args=(t,)) for t in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    # commits serialized: at most one writer lost the race, and the ONLY
    # acceptable failure mode is the optimistic-concurrency conflict
    assert len(failures) <= 1, failures
    assert all(isinstance(e, SnapshotConflictError) for e in failures.values()), failures
    for tag in failures:  # the loser's retry sees the new snapshot and lands
        merge_events(table, batches[tag], epoch=(tag, 0))

    rows = {r["repo"]: r for r in table.read().collect()}
    assert rows["repo-a"]["commit"] == "c11" and rows["repo-a"]["row_version"] == 2
    assert rows["repo-b"]["commit"] == "c21" and rows["repo-b"]["row_version"] == 2


def test_partial_compaction_keeps_shared_delta_files_for_cold_buckets(spark, tmp_path):
    """A delta file holds every bucket its write task saw, with one
    manifest entry per bucket. Compacting only the buckets past
    ``delta_share`` removes the file's entries in those buckets alone:
    cold buckets keep resolving their rows from the shared file, a later
    full compaction drops its last entry, and the vacuum deletes it only
    once no retained snapshot names it."""
    import os

    from etl_kafka_project_spark.cdc.compaction import expire_snapshots
    from etl_kafka_project_spark.cdc.mor import compact_deltas

    spec = StreamSpec(n_events=1200, n_keys=160, n_segments=4, min_lines=2, max_lines=4)
    events = generate_events(spec)
    root = str(tmp_path / "t")
    table = create_code_table(spark, root, CFG)

    def merge(chunk, i):
        merge_events(table, spark.createDataFrame(chunk, EVENT_SCHEMA), epoch=("t", i))

    def assert_matches_oracle():
        got = _final_state_pdf(table)
        want = replay_oracle(events).reindex(columns=got.columns)
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict()), check_dtype=False
        )

    cut = len(events) * 2 // 3
    merge(events.iloc[:cut], 0)
    assert compact_deltas(table)["compacted"]  # every bucket now has a base
    merge(events.iloc[cut : cut + 200], 1)
    merge(events.iloc[cut + 200 :], 2)

    snap = table.snapshot()
    holds: dict[str, set[int]] = {}
    for f in snap.files:
        if f.kind == "delta":
            holds.setdefault(f.path, set()).add(f.bucket)
    assert holds and all(len(bs) > 1 for bs in holds.values())
    base_rows: dict[int, int] = {}
    delta_rows: dict[int, int] = {}
    for f in snap.files:
        d = base_rows if f.kind == "base" else delta_rows
        d[f.bucket] = d.get(f.bucket, 0) + f.rows
    share = {b: d / (base_rows.get(b, 0) + d) for b, d in delta_rows.items()}
    levels = sorted(set(share.values()))
    delta_share = levels[len(levels) // 2]
    hot = {b for b, s in share.items() if s >= delta_share}
    cold = set(share) - hot
    assert hot and cold
    spans = [p for p, bs in holds.items() if bs & hot and bs & cold]
    assert spans  # some file is shared by a compacted and a skipped bucket

    res = compact_deltas(table, delta_share=delta_share)
    assert res["buckets"] == len(hot) and res["cold_buckets_skipped"] == len(cold)
    assert_matches_oracle()
    snap = table.snapshot()
    for p in spans:
        assert os.path.exists(os.path.join(root, p))
        assert {f.bucket for f in snap.files if f.path == p} == holds[p] & cold
    # the cold buckets' newest rows can only come from the shared files
    late = int(events["lsn"].iloc[cut - 1])
    assert any(r["last_lsn"] > late for r in table.read(buckets=cold).collect())
    # a vacuum keeping only the current snapshot leaves them in place
    expire_snapshots(table, keep_last=1, orphan_grace_sec=0.0)
    assert all(os.path.exists(os.path.join(root, p)) for p in spans)

    assert compact_deltas(table)["compacted"]
    assert not {f.path for f in table.snapshot().files} & set(spans)
    assert_matches_oracle()
    # the previous snapshot still names them...
    expire_snapshots(table, keep_last=2, orphan_grace_sec=0.0)
    assert all(os.path.exists(os.path.join(root, p)) for p in spans)
    # ...and once it expires, nothing does
    expire_snapshots(table, keep_last=1, orphan_grace_sec=0.0)
    assert not any(os.path.exists(os.path.join(root, p)) for p in spans)
    assert_matches_oracle()


def test_partial_compaction_with_purge_keeps_a_deleted_key_deleted(spark, tmp_path):
    """A compaction that purges a tombstone removes the delete's own
    delta file, while an older upsert of the key stays in a delta file
    shared with a cold bucket. Reads return only the live entries' rows
    of such a file, so the full read and the point lookup agree with
    the oracle: the key stays deleted, and rows already folded into
    base are not resolved again."""
    from etl_kafka_project_spark.cdc.mor import compact_deltas
    from etl_kafka_project_spark.serving import point_lookup

    root = str(tmp_path / "t")
    table = create_code_table(spark, root, EngineConfig(n_buckets=4))
    keys = [f"r{i}" for i in range(16)]
    bucket_of = _bucket_of(spark, keys, 4)
    victim = keys[0]
    hot = bucket_of[victim]
    assert set(bucket_of.values()) - {hot}

    epochs = [
        _events([(i, "I", k) for i, k in enumerate(keys)]),
        _events([(100 + i, "U", k) for i, k in enumerate(keys)]),
        _events([(200, "D", victim)]),
    ]
    for i, chunk in enumerate(epochs):
        merge_events(table, spark.createDataFrame(chunk, EVENT_SCHEMA), epoch=("t", i))
        if i == 0:
            assert compact_deltas(table)["compacted"]  # every bucket now has a base
    holds: dict[str, set[int]] = {}
    for f in table.snapshot().files:
        if f.kind == "delta":
            holds.setdefault(f.path, set()).add(f.bucket)
    shared = [p for p, bs in holds.items() if hot in bs and len(bs) > 1]
    assert shared and any(bs == {hot} for bs in holds.values())

    # no bucket reaches share 1.0 (each has a base): only the tombstone's
    # bucket is rewritten, and the tombstone is dropped
    res = compact_deltas(table, delta_share=1.0, purge_tombstones_below_lsn=200)
    assert res["buckets"] == 1 and res["tombstones_purged"] == 1
    snap = table.snapshot()
    for p in shared:
        live = [f for f in snap.files if f.path == p]
        assert {f.bucket for f in live} == holds[p] - {hot} and all(f.partial for f in live)

    got = _final_state_pdf(table)
    want = replay_oracle(pd.concat(epochs, ignore_index=True)).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_dtype=False)
    assert point_lookup(spark, root, {"repo": victim, "path": "p"}).count() == 0
    # a multi-bucket read spanning the compacted and a cold bucket
    spans = set().union(*(holds[p] for p in shared))
    assert victim not in {r["repo"] for r in table.read(buckets=spans).collect()}

"""The workloads. Each drives the engine only through its public
entry points (``ReplayJob``, ``LakeTable``, ``serving``,
``cdc.cdf.diff_snapshots``, ``__spark_entry__.queries()``) from one
client thread, and splits into: inputs (seeded, cached, untimed),
set-up (timed: a repeated warm-up unit plus one-off steps), the
measured window, and a correctness check outside the window.

Every latency sample is the time from when the input or request was
due to when its result returned: a drain's start (when the whole
backlog is due) to the ``apply_epoch`` that applied a segment, or a
request's send to its drained result. Samples are kept by kind (one
kind per request type, one for all segments), and a window's latency
is ``stats.kind_median`` of them, so each kind weighs the same.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

from bench import BENCH_QUERIES
from perfbench import inputs, stats

#: set-up repetitions; the median is reported, so the cold first one
#: (JIT, codegen, first-touch) does not set it
SETUP_REPS = 3

#: ingest_backlog: the default traffic shape (20% hot repo, 2% verbatim
#: duplicates, 30-80-line contents), 16 segments drained 2 per trigger
#: = 8 epochs, so the default compaction cadence (every 8th epoch) runs
#: once per drain. A drain takes 10-19 s on a shared 4-core host, longer
#: than the 8 s window, so every window holds exactly one drain: with
#: one drain or two depending on the host's speed, the throughput of
#: 10 runs spread by 0.27.
BACKLOG = dict(n_events=24_000, n_keys=3_000, n_segments=16, min_lines=30, max_lines=80)
BACKLOG_FILES_PER_TRIGGER = 2
#: the set-up unit's small stream (one epoch through the whole path)
WARM = dict(n_events=500, n_keys=100, n_segments=2, min_lines=30, max_lines=80)

#: read_mix: the served table takes 2 epochs and is never compacted
#: (the cadence is 8), so every read resolves MOR deltas
SERVE = dict(n_events=8_000, n_keys=2_000, n_segments=4, min_lines=30, max_lines=80)
SERVE_FILES_PER_TRIGGER = 2
#: one client's fixed request mix, repeated in this order
READ_MIX = ["lookup", "search", "changelog", "page2", "diff"]
KEYS = ["repo", "path"]


@dataclass
class Ctx:
    spark: object
    work: str
    cache: str
    seed: int
    seconds: float
    tracer: object = None
    _n: int = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}-{self._n}")
        os.makedirs(d)
        return d

    def config(self):
        from etl_kafka_project_spark.config import EngineConfig

        return EngineConfig()


@dataclass
class Window:
    """What one measured window produced."""

    work: float = 0.0  # units of work completed (events, reads, queries)
    wall: float = 0.0  # seconds the work took
    attempted: int = 0
    failed: int = 0
    events_in: int = 0
    jobs: list = field(default_factory=list)  # (ReplayJob, progress list)
    notes: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)  # callables -> failed count
    by_kind: dict = field(default_factory=dict)  # kind -> latencies, s

    def sample(self, kind: str, seconds: float) -> None:
        self.by_kind.setdefault(kind, []).append(seconds)

    @property
    def samples(self) -> list[float]:
        return [x for xs in self.by_kind.values() for x in xs]

    def latency(self) -> float:
        """The window's latency, s: per-kind medians, combined."""
        return stats.kind_median(self.by_kind)


# ---------- ingest helpers ----------


def _stamp_returns(job) -> dict[int, float]:
    """Record when each ``apply_epoch`` call returns (the foreachBatch
    body looks the method up on the job at call time)."""
    returns: dict[int, float] = {}
    inner = job.apply_epoch

    def stamped(batch_df, epoch_id):
        out = inner(batch_df, epoch_id)
        returns[epoch_id] = time.perf_counter()
        return out

    job.apply_epoch = stamped
    return returns


def _new_job(ctx: Ctx, stream_dir: str, files_per_trigger: int | None, schema=None):
    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
    from etl_kafka_project_spark.cdc.merge import create_code_table
    from etl_kafka_project_spark.cdc.stream import ReplayJob

    d = ctx.fresh_dir("job")
    cfg = ctx.config()
    create_code_table(ctx.spark, os.path.join(d, "table"), cfg)
    return ReplayJob(
        table_root=os.path.join(d, "table"),
        stream_dir=stream_dir,
        checkpoint_dir=os.path.join(d, "ckpt"),
        config=cfg,
        event_schema=schema or EVENT_SCHEMA,
        max_files_per_trigger=files_per_trigger,
        emit_changelog=True,
    )


def _lineage(job) -> list[dict]:
    from etl_kafka_project_spark.cdc.metrics import LineageLog

    return LineageLog(job.lineage_dir, job.stream_id).read_all()


def _drain(ctx: Ctx, stream: inputs.Stream, files_per_trigger: int):
    """One closed-loop availableNow drain into a fresh table: (job,
    start, wall, epoch return times, progress)."""
    job = _new_job(ctx, stream.dir, files_per_trigger)
    returns = _stamp_returns(job)
    t0 = time.perf_counter()
    q = job.start(ctx.spark, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"replay failed: {q.exception()}")
    return job, t0, wall, returns, list(q.recentProgress)


def _state_check(ctx: Ctx, job, want) -> str | None:
    from etl_kafka_project_spark.minilake.table import LakeTable

    got = LakeTable(ctx.spark, job.table_root).read().toPandas()
    return inputs.same_state(got, want)


def _warm_unit(ctx: Ctx) -> None:
    """Replay a one-epoch stream into a fresh table, then compact it the
    way the job's housekeeping does, so both paths are warm."""
    from etl_kafka_project_spark.cdc import mor
    from etl_kafka_project_spark.minilake.table import LakeTable

    job, *_ = _drain(ctx, inputs.cdc_stream(ctx.cache, _spec(ctx.seed + 7919, WARM)), 2)
    cfg = ctx.config()
    mor.compact_deltas(LakeTable(ctx.spark, job.table_root), delta_share=cfg.compact_delta_share)


def _spec(seed: int, shape: dict, **kw):
    from etl_kafka_project_spark.cdc.fixtures import StreamSpec

    return StreamSpec(seed=seed, **shape, **kw)


# ---------- ingest_backlog ----------


class IngestBacklog:
    """Closed loop: drain the whole pre-generated stream into a fresh
    MOR table, again and again, until the window ends."""

    reps = SETUP_REPS

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.stream = inputs.cdc_stream(ctx.cache, _spec(ctx.seed, BACKLOG))
        self.want = inputs.oracle_state(self.stream)
        inputs.cdc_stream(ctx.cache, _spec(ctx.seed + 7919, WARM))

    def setup_unit(self) -> None:
        _warm_unit(self.ctx)

    def one_off_setup(self) -> None:
        pass

    def window(self) -> Window:
        ctx, w = self.ctx, Window()
        start = time.perf_counter()
        while time.perf_counter() - start < ctx.seconds:
            job, t0, wall, returns, progress = _drain(ctx, self.stream, BACKLOG_FILES_PER_TRIGGER)
            epochs = [(d["lsn_span"][0], d["lsn_span"][1], returns[d["epoch"]])
                      for d in _lineage(job)]
            # a backlog is all due at once: every segment is due at the
            # drain's start
            fresh = stats.freshness(
                [(s.lsn_lo, s.lsn_hi, t0) for s in self.stream.segments], epochs)
            w.by_kind.setdefault("segment", []).extend(f for f in fresh if f is not None)
            w.work += self.stream.rows
            w.events_in += self.stream.rows
            w.wall += wall
            w.attempted += 1
            missed = sum(f is None for f in fresh)
            w.jobs.append((job, progress))
            w.checks.append(lambda job=job, missed=missed: int(
                bool(missed) or _state_check(ctx, job, self.want) is not None))
        w.notes["drains"] = w.attempted
        w.notes["space_amp"] = _space_amp(w.jobs[-1][0], self.stream)
        return w


def _space_amp(job, stream: inputs.Stream) -> float:
    from perfbench.harness import tree_bytes

    return tree_bytes(job.table_root) / stream.bytes


# ---------- read_mix: the serving requests ----------


class ServeReads:
    """read_mix's serving half: a fixed mix of point lookups (every key
    pinned), a conjunctive text+exact search, an ordered page-2 search,
    a changelog catch-up and a last-two-versions diff, against a table
    that still holds uncompacted MOR deltas and a changelog."""

    def __init__(self, ctx: Ctx):
        import numpy as np

        self.ctx = ctx
        self.stream = inputs.cdc_stream(ctx.cache, _spec(ctx.seed, SERVE))
        self.events = self.stream.events()
        self.want = inputs.oracle_state(self.stream)
        keys = self.events[KEYS].drop_duplicates().sort_values(KEYS).to_numpy()
        rng = np.random.default_rng(ctx.seed)
        self.lookup_keys = [tuple(keys[i]) for i in rng.permutation(len(keys))]
        repos = sorted(set(self.events["repo"]))
        self.repos = [repos[i] for i in rng.permutation(len(repos))]
        self.langs = ["python", "java", "go", "js"]
        self.job = None
        self._i = 0

    def build(self) -> None:
        """Build the served table (this replay is also the warm-up of
        the ingest path) and derive every expected response."""
        self.job, *_ = _drain(self.ctx, self.stream, SERVE_FILES_PER_TRIGGER)
        docs = _lineage(self.job)
        last = docs[-1]
        self.v_to = last["snapshot_version"]
        self.v_from = self.v_to - 1
        lsn_from = max(d["lsn_span"][1] for d in docs if d["snapshot_version"] <= self.v_from)
        self.catchup_epoch = docs[-2]["epoch"]
        self.feed_want = self._feed_expected(docs)
        self.diff_want = self._diff_expected(lsn_from, last["lsn_span"][1])

    # expected responses, from pandas over the oracle state

    def _feed_expected(self, docs) -> set:
        ev = self.events.drop_duplicates("lsn")
        out = set()
        for d in docs:
            if d["epoch"] < self.catchup_epoch:
                continue
            lo, hi = d["lsn_span"]
            e = ev[(ev["lsn"] >= lo) & (ev["lsn"] <= hi)].sort_values("lsn")
            for r in e.groupby(KEYS, sort=False).tail(1).itertuples(index=False):
                out.add((d["epoch"], r.repo, r.path, "D" if r.op == "D" else "U", int(r.lsn)))
        return out

    def _diff_expected(self, lsn_from: int, lsn_to: int) -> set:
        a = inputs.oracle_state(self.stream, lsn_from).set_index(KEYS)
        b = inputs.oracle_state(self.stream, lsn_to).set_index(KEYS)
        payload = [c for c in b.columns if c not in ("last_lsn", "row_version")]
        out = {(*k, "insert", int(b.at[k, "last_lsn"])) for k in b.index.difference(a.index)}
        out |= {(*k, "delete", None) for k in a.index.difference(b.index)}
        for k in a.index.intersection(b.index):
            if [_py(v) for v in a.loc[k, payload]] != [_py(v) for v in b.loc[k, payload]]:
                out.add((*k, "update", int(b.at[k, "last_lsn"])))
        return out

    # the request mix

    def _request(self, kind: str, i: int):
        """(callable returning the drained response, checker of it)."""
        from etl_kafka_project_spark import serving
        from etl_kafka_project_spark.cdc import cdf
        from etl_kafka_project_spark.minilake.table import LakeTable

        spark, root = self.ctx.spark, self.job.table_root
        if kind == "lookup":
            key = self.lookup_keys[i % len(self.lookup_keys)]
            want = self.want[(self.want["repo"] == key[0]) & (self.want["path"] == key[1])]
            cols = list(self.want.columns)
            expect = [tuple(_py(v) for v in row) for row in want.itertuples(index=False)]

            def call():
                df = serving.point_lookup(spark, root, dict(zip(KEYS, key)))
                return [tuple(_py(r[c]) for c in cols) for r in df.collect()]

            return call, lambda got: got == expect
        if kind in ("search", "page2"):
            repo = self.repos[i % len(self.repos)]
            lang = self.langs[i % len(self.langs)]
            m = self.want[self.want["content"].str.lower().str.contains(repo + "/", regex=False)
                          & (self.want["lang"] == lang)]
            matches = sorted(map(tuple, m[KEYS].to_numpy()))
            if kind == "search":
                def call():
                    df = serving.search(serving.latest(spark, root),
                                        text={"content": repo + "/"}, exact={"lang": lang})
                    return [tuple(r[k] for k in KEYS) for r in df.collect()]

                return call, lambda got: (len(got) == min(10, len(matches))
                                          and set(got) <= set(matches))

            def call():
                df = serving.search(serving.latest(spark, root), text={"content": repo + "/"},
                                    exact={"lang": lang}, order_by=KEYS, offset=10, limit=10)
                return [tuple(r[k] for k in KEYS) for r in df.collect()]

            return call, lambda got: got == matches[10:20]
        if kind == "changelog":
            def call():
                df = serving.read_changelog(spark, root, from_epoch=self.catchup_epoch)
                return [(r["epoch"], r["repo"], r["path"], r["op"], r["lsn"])
                        for r in df.select("epoch", *KEYS, "op", "lsn").collect()]

            return call, lambda got: len(got) == len(self.feed_want) and set(got) == self.feed_want

        def call():
            df = cdf.diff_snapshots(LakeTable(spark, root), self.v_from, self.v_to)
            return [(r["repo"], r["path"], r["change_type"], r["last_lsn"])
                    for r in df.select(*KEYS, "change_type", "last_lsn").collect()]

        return call, lambda got: len(got) == len(self.diff_want) and set(got) == self.diff_want

    def request(self, w: Window, check: bool = True) -> None:
        """Send the mix's next request and wait for its drained result."""
        kind = READ_MIX[self._i % len(READ_MIX)]
        call, ok = self._request(kind, self._i)
        self._i += 1
        t0 = time.perf_counter()
        try:
            with _span(self.ctx, f"read.{kind}"):
                got = call()
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            w.failed += 1
            w.notes.setdefault("errors", []).append(f"{kind}: {type(e).__name__}: {e}"[:200])
            got = None
        dt = time.perf_counter() - t0
        w.attempted += 1
        if got is not None:
            w.sample(kind, dt)
            w.work += 1
            if check:
                w.checks.append(lambda: int(not ok(got)))


def _span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer is not None else contextlib.nullcontext()


def _isnull(v) -> bool:
    import pandas as pd

    return v is None or (not isinstance(v, str) and pd.isna(v))


def _py(v):
    """numpy scalars and NaN as plain Python values, for comparison."""
    if _isnull(v):
        return None
    return v.item() if hasattr(v, "item") else v


# ---------- read_mix: the headline queries ----------


class HeadlineQueries:
    """read_mix's query half: the nine ``bench.py`` headline queries at
    sf0.1 in a fixed rotation, each drained through the noop sink."""

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.sf = inputs.sf_tables(ctx.cache)
        self.want = inputs.query_oracles(self.sf)
        self.queries = entry.queries()
        self.results: dict = {}
        self._verdicts: dict[str, bool] = {}
        self._i = 0

    def collect(self) -> None:
        """Run every query once, collected for the correctness check."""
        for _ in BENCH_QUERIES:
            self.request(Window(), keep=True)

    def request(self, w: Window, keep: bool = False) -> None:
        """Run the rotation's next query drained through the noop sink,
        or (``keep``, set-up only) collected for the correctness check."""
        name = BENCH_QUERIES[self._i % len(BENCH_QUERIES)]
        self._i += 1
        t0 = time.perf_counter()
        with _span(self.ctx, f"ops.{name}"):
            df = self.queries[name](self.ctx.spark, self.sf)
            if keep:
                self.results[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        w.sample(name, time.perf_counter() - t0)
        w.attempted += 1
        w.work += 1

    def check(self, w: Window) -> int:
        """Each query's result (collected during set-up, outside the
        window) against its DuckDB twin; every timed run of a query that
        disagrees counts as failed."""
        if not self._verdicts:
            self._verdicts = self._compare_all()
        return sum(len(w.by_kind.get(name, ())) for name, ok in self._verdicts.items() if not ok)

    def _compare_all(self) -> dict[str, bool]:
        import pandas as pd

        from tools.check_oracles import normalize

        verdicts = {}
        for name in BENCH_QUERIES:
            try:
                # rtol 1e-7 lets a rounded double sum of 1e5 or more
                # flip its last (0.01) digit, since Spark does not fix
                # the summation order; anything larger is a miss
                pd.testing.assert_frame_equal(normalize(self.results[name]), self.want[name],
                                              check_dtype=False, rtol=1e-7, atol=0)
                verdicts[name] = True
            except AssertionError as e:
                print(f"[perfbench] {name}: {str(e).splitlines()[0]}", file=sys.stderr)
                verdicts[name] = False
        return verdicts


# ---------- read_mix ----------


class ReadMix:
    """Closed loop, one client: one cycle is the serving request mix
    followed by the nine headline queries; the window runs whole cycles.
    Both read sides share one process, so the serving layers and
    ``ops/*`` share one session start and one warm-up."""

    reps = SETUP_REPS

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.serve = ServeReads(ctx)
        self.queries = HeadlineQueries(ctx)

    def one_off_setup(self) -> None:
        """Build the table, then one cold cycle: the serving mix and a
        query rotation collected for the correctness check."""
        self.serve.build()
        for _ in READ_MIX:
            self.serve.request(Window(), check=False)
        self.queries.collect()

    def setup_unit(self) -> None:
        """A fresh client's first answer: open the table and look up one
        key. A whole cycle is too long to repeat within the run budget."""
        from etl_kafka_project_spark import serving

        key = self.serve.lookup_keys[-1]
        serving.point_lookup(self.ctx.spark, self.serve.job.table_root,
                             dict(zip(KEYS, key))).collect()

    def window(self) -> Window:
        w = Window()
        start = time.perf_counter()
        while time.perf_counter() - start < self.ctx.seconds:
            for _ in READ_MIX:
                self.serve.request(w)
            for _ in BENCH_QUERIES:
                self.queries.request(w)
        w.wall = time.perf_counter() - start
        w.notes["space_amp"] = _space_amp(self.serve.job, self.serve.stream)
        w.checks.append(lambda: self.queries.check(w))
        return w


WORKLOADS = {
    "ingest_backlog": IngestBacklog,
    "read_mix": ReadMix,
}

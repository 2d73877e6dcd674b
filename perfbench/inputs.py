"""Seeded inputs, cached per seed under the run's cache directory: CDC
change streams (``cdc/fixtures.py``) with their pandas-oracle final
state, and the sf0.1 star-schema tables the headline queries read with
each query's DuckDB reference result.
The engine only ever sees the generated files."""

from __future__ import annotations

import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd


@dataclass
class Segment:
    path: str
    lsn_lo: int
    lsn_hi: int
    rows: int
    bytes: int


@dataclass
class Stream:
    dir: str
    segments: list[Segment]
    events_path: str

    def events(self) -> pd.DataFrame:
        return pd.read_parquet(self.events_path)

    @property
    def rows(self) -> int:
        return sum(s.rows for s in self.segments)

    @property
    def bytes(self) -> int:
        return sum(s.bytes for s in self.segments)


def _key(d: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(d.items()) if v is not None)


def cdc_stream(cache: str, spec) -> Stream:
    """Generate (once per spec) the ordered segment files of ``spec``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from etl_kafka_project_spark.cdc.fixtures import generate_events, write_segments

    root = os.path.join(cache, "stream-" + _key(asdict(spec)))
    seg_dir, events_path = os.path.join(root, "segments"), os.path.join(root, "events.parquet")
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        events = generate_events(spec)
        write_segments(events, seg_dir, spec)
        events.to_parquet(events_path, index=False)
        open(os.path.join(root, "_DONE"), "w").close()
    segs = []
    for fn in sorted(os.listdir(seg_dir)):
        path = os.path.join(seg_dir, fn)
        lsn = pq.read_table(path, columns=["lsn"]).column("lsn")
        segs.append(Segment(path, pc.min(lsn).as_py(), pc.max(lsn).as_py(), len(lsn),
                            os.path.getsize(path)))
    return Stream(seg_dir, segs, events_path)


def oracle_state(stream: Stream, upto_lsn: int | None = None) -> pd.DataFrame:
    """Expected final table state after the stream (or its prefix up to
    ``upto_lsn``), from the pandas replay oracle; the full-stream state
    is cached next to the stream."""
    from etl_kafka_project_spark.cdc.oracle import replay_oracle

    cached = os.path.join(os.path.dirname(stream.dir), "oracle.parquet")
    if upto_lsn is None and os.path.exists(cached):
        return pd.read_parquet(cached)
    ev = stream.events()
    if upto_lsn is not None:
        ev = ev[ev["lsn"] <= upto_lsn]
    out = replay_oracle(ev)
    if upto_lsn is None:
        out.to_parquet(cached, index=False)
    return out


def same_state(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the engine's rows equal the oracle's, else a reason."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"columns missing from the table read: {missing}"
    keys = ["repo", "path"]
    got = got[cols].sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


# ---------- sf0.1 tables for the headline queries ----------

# Row counts are TPC-H's at scale factor 0.1 (customer 150,000 x SF,
# supplier 10,000 x SF, part 200,000 x SF, orders 1,500,000 x SF,
# lineitem ~6,000,000 x SF), plus the three extra tables at the sizes of
# the sf0.1 test data set that bench.py reads (TESTDATA.md). Every value
# distribution below copies a figure measured on that data set; the
# comment on each column gives the measured figure it reproduces.
SF_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
           "orders": 150_000, "lineitem": 600_000, "events": 100_000,
           "documents": 5_000, "embeddings": 2_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: the 30 words of the documents' text, each about equally frequent
WORDS = ("a agg batch big column customer data fast filter group hash join key"
         " line merge order part query row scan slow small sort spark stream"
         " table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
#: documents that copy another document's text with " dup" appended
DUP_SHARE = 0.05


def _dates(rng, n, lo: str, days: int) -> np.ndarray:
    """Whole days drawn uniformly from ``days`` days starting at ``lo``."""
    return (np.datetime64(lo, "us") + rng.integers(0, days, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


#: the headline queries read one fixed data set, as bench.py does, not
#: one per run seed: making the tables and their DuckDB references took
#: about 20 s, which every run with a new seed paid
SF_SEED = 0


def sf_tables(cache: str) -> str:
    """Write the ten tables (the TPC-H star schema plus events,
    documents and embeddings) at sf0.1; returns their dir."""
    out = os.path.join(cache, "sf0.1")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(SF_SEED)
    n = SF_ROWS
    i32 = np.int32
    nc, no, nl, ne, nd = n["customer"], n["orders"], n["lineitem"], n["events"], n["documents"]
    t = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        # 25 nations, nation i in region i % 5
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        # nation, balance (-999.85..9999.80) and segment uniform
        "customer": pd.DataFrame({
            "c_custkey": np.arange(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        # 64 distinct names, 25 brands, 6 types, sizes 1..50 uniform;
        # the price cycles 900.0..999.9 with the key
        "part": pd.DataFrame({
            "p_partkey": np.arange(n["part"]),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       rng.integers(0, 8, (n["part"], 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1)}),
        # customer, status, priority uniform (about 10 orders per
        # customer); price 1,000..500,000 uniform; dates uniform over
        # 1995-01-01..2001-08-01
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(no),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _dates(rng, no, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(PRIORITIES, no)}),
        # every key uniform and independent (about 4 lines per order,
        # 147k of the 150k orders have one); quantity 1..50, discount
        # 0..0.10, tax 0..0.08 in steps of 0.01; price 900..105,000
        # uniform; flags uniform; ship dates uniform over 1995-01-02..
        # 2001-11-04, independent of the order date
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, n["part"], nl),
            "l_suppkey": rng.integers(0, n["supplier"], nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _dates(rng, nl, "1995-01-02", 2499)}),
        # sorted timestamps over 30 days; 1,500 users and 5 types
        # uniform; value exponential with mean 50 (median 34.8); props
        # one of 100 small JSON objects
        "events": pd.DataFrame({
            "event_id": np.arange(ne),
            "ts": (np.datetime64("2024-01-01", "us")
                   + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 1_500, ne),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
    }
    # 10..100 words (median 54, about 300 characters) drawn uniformly
    # from WORDS; 5% copy another document and end in " dup"; 41% "en",
    # the other four languages about 15% each; 20 sources in turn
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, nd)]
    for i in np.flatnonzero(rng.random(nd) < DUP_SHARE):
        texts[i] = texts[rng.integers(0, nd)].removesuffix(" dup") + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd), "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # 64-dimensional unit vectors (normalized Gaussians), 10 labels
    vecs = rng.normal(0, 1, (n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"]), "embedding": list(vecs),
        "label": rng.integers(0, 10, n["embeddings"]).astype(i32)})
    for name, df in t.items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def query_oracles(sf_dir: str) -> dict[str, pd.DataFrame]:
    """Each headline query's ``oracle_sql()`` result, run by DuckDB over
    the tables in ``sf_dir`` and normalized for comparison; cached next
    to the tables (the minhash oracle alone takes about 20 s)."""
    import __spark_entry__ as entry
    from bench import BENCH_QUERIES
    from tools.check_oracles import duck_connection, normalize

    out = os.path.join(sf_dir, "oracle")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        sql = entry.oracle_sql()
        con = duck_connection(sf_dir)
        try:
            for name in BENCH_QUERIES:
                normalize(con.execute(sql[name]).df()).to_parquet(
                    os.path.join(out, f"{name}.parquet"), index=False)
        finally:
            con.close()
        open(os.path.join(out, "_DONE"), "w").close()
    return {name: pd.read_parquet(os.path.join(out, f"{name}.parquet"))
            for name in BENCH_QUERIES}

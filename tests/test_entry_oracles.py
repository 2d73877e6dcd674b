"""The driver contract surface: entry() smoke, every queries() entry vs
its DuckDB oracle_sql() twin at sf0.001 (the driver runs sf0.01 — same
code path), and pinned values for the non-SQL mapInPandas operator.

Each oracle case first checks its physical plan (``explain("formatted")``)
for the properties that matter at 100 TB: predicate pushdown reaching the
parquet scan, column pruning (ReadSchema narrower than the table),
broadcast joins on small dims, top-k via TakeOrderedAndProject, scan and
Exchange counts, and no Cartesian product in any query. At sf0.001 every
table fits under the broadcast threshold, so a cross or non-equi join
plans as ``BroadcastNestedLoopJoin``, not ``CartesianProduct``: that node
fails every query not named, with its reason, in ``NESTED_LOOP_OK``."""

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_oracles import compare, duck_connection

SF = "/root/testdata/sf0.001"

#: query name → properties we assert on its formatted plan
AUDITS: dict[str, list[tuple[str, str]]] = {
    "q1_pricing_summary": [
        # exactly the 5 needed lineitem columns reach the scan
        ("column pruning", "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_returnflag:string,l_linestatus:string>"),
        ("partial agg", "HashAggregate"),
    ],
    "conjunctive_search_documents": [
        ("equality predicate pushed to parquet", "EqualTo(lang,en)"),
    ],
    "q5_local_supplier_volume": [
        ("broadcast dims", "BroadcastHashJoin"),
    ],
    "q3_shipping_priority": [
        ("pushed segment filter", "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
        ("top-k no global sort", "TakeOrderedAndProject"),
    ],
    "window_top3_orders": [
        ("single shuffle window", "row_number"),
    ],
    "customers_without_orders": [
        ("anti join", "LeftAnti"),
    ],
    "brands_in_lineitem": [
        ("semi join", "LeftSemi"),
    ],
    "ann_bruteforce_topk": [
        ("broadcast query vector", "BroadcastNestedLoopJoin"),
        ("top-k no global sort", "TakeOrderedAndProject"),
    ],
    "lww_latest_per_key": [
        ("LWW window", "row_number"),
    ],
    "minhash_signatures": [
        ("no shuffle (map-only)", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "lsh_candidate_pairs": [
        ("bucket grouping, not a self-join", "ObjectHashAggregate"),
    ],
    "simhash_lsh_pairs": [
        ("bucket grouping, not a self-join", "ObjectHashAggregate"),
    ],
    "pretrain_corpus_filter": [
        ("dedup keeper via partial agg", "HashAggregate"),
    ],
    "ivf_query_topk": [
        ("centroid probe broadcast", "BroadcastHashJoin"),
        ("top-k no global sort", "TakeOrderedAndProject"),
    ],
    "q7_nation_trade_volume": [
        # only the constant-size nation dim is broadcast; the growing
        # tables join via shuffle (AQE may localize at small SF)
        ("nation broadcast", "BroadcastHashJoin"),
        ("partial agg", "HashAggregate"),
    ],
    "q9_product_type_profit": [
        ("part-name slice pushed to scan", "StringContains(p_name,ol)"),
        ("partial agg", "HashAggregate"),
    ],
    "q10_returned_item_revenue": [
        ("returnflag pushed to lineitem scan", "EqualTo(l_returnflag,R)"),
        ("top-k no global sort", "TakeOrderedAndProject"),
    ],
    "brand_type_revenue_share": [
        # the window runs on the aggregated frame (O(groups)), after agg
        ("window over aggregate", "Window"),
        ("partial agg", "HashAggregate"),
    ],
    "distinctive_terms": [
        ("per-doc rank window", "row_number"),
        ("partial agg", "HashAggregate"),
    ],
    "stratified_sample_per_group": [
        ("per-stratum rank window", "row_number"),
    ],
    "dataset_split_assign": [
        ("map-only stamp", "Project"),
    ],
    "repetition_top_bigram": [
        # per-doc statistic: only the 2 needed columns reach the scan
        ("column pruning", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "decontamination_overlap": [
        # the small benchmark gram set broadcasts; the corpus streams
        ("benchmark broadcast", "BroadcastHashJoin"),
        ("partial agg", "HashAggregate"),
    ],
    "corpus_stats_by_source": [
        ("rollup via partial agg", "HashAggregate"),
    ],
    "pack_sequences": [
        # layout is order-defined: one running-sum window per source
        ("per-source running sum", "Window"),
        # only the 3 narrow columns enter the window; content pruned
        ("column pruning", "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    ],
    "unigram_surprisal": [
        ("vocab + per-doc partial aggs", "HashAggregate"),
    ],
    "curated_corpus": [
        # all gate branches join on the one key; cheap gates reach scans
        ("lang gate pushed to scan", "EqualTo(lang,en)"),
        ("dedup keeper partial agg", "HashAggregate"),
    ],
    "dsir_importance": [
        # source split pushed to both LM branches' scans
        ("corpus/target split pushed to scan", "EqualTo(source,src0)"),
        ("vocab + per-doc partial aggs", "HashAggregate"),
    ],
    "pii_redaction": [
        # regexp scrub is row-local: only the 2 needed columns scanned
        ("column pruning", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "exact_substring_dup": [
        ("two-phase span-hash agg", "HashAggregate"),
        ("per-span dup test via window", "Window"),
    ],
    "exact_substring_spans": [
        # span positions: occurrences collapse per (hash, doc) first,
        # then ONE window over the collapsed rows ranks the keeper
        ("per-doc collapse partial agg", "HashAggregate"),
        ("keeper election via window", "Window"),
    ],
    "quality_classifier_score": [
        # the hashed-linear-model margin is one row-local aggregate over
        # the token array: only the 2 needed columns reach the scan
        ("column pruning", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "bigram_surprisal": [
        # bigram + context counts are partial-aggregated groupBys; the
        # vocabulary size broadcasts back as a one-row crossJoin
        ("bigram/context partial aggs", "HashAggregate"),
        ("V broadcast, not a window", "Broadcast"),
    ],
    "curated_corpus_packed": [
        # the keep-list's cheap gates still reach the scans after the
        # redaction + packing composition
        ("lang gate pushed to scan", "EqualTo(lang,en)"),
        ("benchmark broadcast", "BroadcastHashJoin"),
        # packing = one running-sum window per source over kept rows
        ("per-source running sum", "Window"),
    ],
    "semdedup_prune": [
        # O(k) centroid set broadcasts for assignment; the in-cluster
        # pairing is an equi-join (never corpus-vs-corpus cartesian)
        ("centroid broadcast", "BroadcastNestedLoopJoin"),
        ("dup election partial agg", "HashAggregate"),
    ],
    "ivf_query_topk_indexed": [
        # the candidate read prunes to the probed posting-list
        # partitions AT THE SCAN — nprobe/k of the index's files
        ("partition-pruned candidate scan", "PartitionFilters: [centroid_id"),
        ("probe is a literal IN-list", " IN ("),
        ("top-k no global sort", "TakeOrderedAndProject"),
    ],
    "kmv_distinct_ndv": [
        # only the group + value columns reach either lineitem scan
        ("column pruning", "ReadSchema: struct<l_partkey:bigint,l_returnflag:string>"),
        # the bottom-K rank filter is applied map-side BEFORE each rank
        # shuffle, so exchanges carry <= K rows per (grp,salt) per task —
        # the sketch's mergeability realized in the physical plan
        ("map-side bottom-K", "WindowGroupLimit"),
        ("exact-NDV truth side broadcast", "BroadcastHashJoin"),
    ],
}

#: query name → (label, substring, exact occurrence count) — for plan
#: properties that are about HOW MANY times a node appears
COUNT_AUDITS: dict[str, list[tuple[str, str, int]]] = {
    # round-2 fix: the bands⋈bands self-join recomputed the MinHash
    # lineage twice; the groupBy(band,bucket)+pair-explode shape must
    # scan documents exactly once. explain("formatted") prints every
    # physical scan node twice (tree + detail section), so 1 scan == 2.
    "lsh_candidate_pairs": [("single documents scan", "Scan parquet", 2)],
    "minhash_signatures": [("single documents scan", "Scan parquet", 2)],
    "simhash_lsh_pairs": [("single documents scan", "Scan parquet", 2)],
    # a per-document statistic must never shuffle: the longest-equal-run
    # form is map-only end to end (count 0 == no Exchange node at all)
    "repetition_top_bigram": [
        ("zero shuffle (map-only)", "Exchange", 0),
        ("single documents scan", "Scan parquet", 2),
    ],
    # dataset card: all per-doc signals ride ONE scan; the only
    # exchange is the O(#sources) rollup (2 = the partial/final pair's
    # shared shuffle printed in tree + detail sections)
    "corpus_stats_by_source": [("single documents scan", "Scan parquet", 2)],
    # both aggs (vocab tf, per-doc surprisal sum) have fixed-width
    # buffers — neither may fall back to sort-based aggregation; the
    # corpus total must be an agg+broadcast, never a single-partition
    # window funneling every vocab row through one reducer (the one
    # remaining SinglePartition exchange carries O(#partitions) partial
    # agg rows, not the vocab)
    "unigram_surprisal": [
        ("no sort-based agg", "SortAggregate", 0),
        ("no single-partition window over vocab", "Window", 0),
    ],
    "dsir_importance": [
        ("no sort-based agg", "SortAggregate", 0),
        ("no single-partition window over vocab", "Window", 0),
    ],
    # the PII scrub is a pure row-local regexp pass: map-only end to
    # end, one scan of documents
    "pii_redaction": [
        ("zero shuffle (map-only)", "Exchange", 0),
        ("single documents scan", "Scan parquet", 2),
    ],
    # classifier inference is the same map-only shape: hash, weigh, and
    # sum never leave the row — zero shuffle, one scan
    "quality_classifier_score": [
        ("zero shuffle (map-only)", "Exchange", 0),
        ("single documents scan", "Scan parquet", 2),
    ],
    # the bigram LM must never funnel its vocabulary through one
    # reducer: scalar V is an agg+broadcast, and all counts hash-agg
    "bigram_surprisal": [
        ("no sort-based agg", "SortAggregate", 0),
        ("no single-partition window over vocab", "Window", 0),
    ],
    # the corpus is tokenized + hashed exactly once; the dup test and
    # rollup ride narrow hash rows (the 3-branch form scanned 3x)
    "exact_substring_dup": [
        ("single documents scan", "Scan parquet", 2),
        ("no sort-based agg", "SortAggregate", 0),
    ],
    "exact_substring_spans": [
        ("single documents scan", "Scan parquet", 2),
        ("no sort-based agg", "SortAggregate", 0),
    ],
    # the bottom-K sketch must never funnel the distinct set through one
    # reducer: every Exchange is hash-partitioned on (grp[,salt]) and the
    # rank filters ride map-side WindowGroupLimit(Partial) so shuffles
    # carry <= K rows per group per map task
    "kmv_distinct_ndv": [("no single-partition exchange", "SinglePartition", 0)],
}


#: queries whose plan may hold a BroadcastNestedLoopJoin, and why: each
#: broadcasts a build side whose size does not grow with the corpus
NESTED_LOOP_OK: dict[str, str] = {
    "ann_bruteforce_topk": "one query vector crossed with every embedding",
    "bigram_surprisal": "one-row vocabulary size crossed with the bigram model",
    "curated_corpus": "one-row corpus totals crossed with the vocabulary (surprisal gate)",
    "curated_corpus_packed": "the curated_corpus keep-list, same one-row totals",
    "dsir_importance": "one-row corpus totals crossed with the vocabulary",
    "unigram_surprisal": "one-row corpus total crossed with the vocabulary",
    "ivf_centroid_update": "O(k) centroid set crossed with every vector for assignment",
    "ivf_coarse_assignment": "O(k) centroid set crossed with every vector for assignment",
    "ivf_query_topk": "O(k) centroids and one query vector crossed for probing and ranking",
    "ivf_query_topk_indexed": "one query vector crossed with the probed candidates",
    "semdedup_prune": "O(k) centroid set crossed with every vector for assignment",
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "props_sha256" in df.columns
    assert all(len(r["props_sha256"]) == 64 for r in rows)


def test_every_query_has_oracle_or_is_declared(spark):
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(queries)
    # round 2: EVERY query has a DuckDB oracle twin (the mapInPandas
    # feature extractor gained a codepoint-stat oracle — ASCII payloads)
    assert set(queries) - set(oracles) == set()
    # a plan check on a name without an oracle case would never run
    assert set(AUDITS) | set(COUNT_AUDITS) | set(NESTED_LOOP_OK) <= set(oracles)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    df = entrymod.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    failed = [f"{label}: {needle!r} not in plan" for label, needle in AUDITS.get(name, [])
              if needle not in plan]
    failed += [f"{label}: {needle!r} x{plan.count(needle)}, want {want_n}"
               for label, needle, want_n in COUNT_AUDITS.get(name, [])
               if plan.count(needle) != want_n]
    if "CartesianProduct" in plan:
        failed.append("no Cartesian product: 'CartesianProduct' in plan")
    nested = "BroadcastNestedLoopJoin" in plan
    if nested and name not in NESTED_LOOP_OK:
        failed.append("no nested-loop join: 'BroadcastNestedLoopJoin' in plan,"
                      " and the query is not in NESTED_LOOP_OK")
    if not nested and name in NESTED_LOOP_OK:
        failed.append("stale NESTED_LOOP_OK entry: no 'BroadcastNestedLoopJoin' in plan")
    assert not failed, "\n".join(failed) + "\n\n" + plan
    verdict = compare(name, df, duck, entrymod.oracle_sql()[name])
    assert verdict == "OK", verdict


def test_multimodal_features_values(spark):
    """Pin the mapInPandas operator's values independently of the SQL
    oracle (belt and suspenders for the Arrow batch path)."""
    out = entrymod.queries()["multimodal_features"](spark, SF)
    row = {r["doc_id"]: r for r in out.collect()}[0]
    import duckdb

    text = duckdb.sql(
        f"select text from read_parquet('{SF}/documents.parquet') where doc_id=0"
    ).fetchone()[0]
    raw = text.encode("utf-8")
    assert row["n_bytes"] == len(raw)
    assert row["first_byte"] == raw[0]
    assert row["mean_byte"] == sum(raw) / len(raw)


def test_frame_sample_builtin_equals_mapinpandas(spark):
    """The mapInPandas frame sampler's per-payload Python loop is a
    CODEC placeholder, not a semantic dependency: the pure-expression
    twin (explode(sequence) + substring + ascii) must return identical
    rows (round-3 verdict item)."""
    key = ["doc_id", "frame_idx"]
    py = entrymod.queries()["multimodal_frame_sample"](spark, SF)
    jvm = entrymod.queries()["multimodal_frame_sample_builtin"](spark, SF)
    got_py = sorted(tuple(r) for r in py.collect())
    got_jvm = sorted(tuple(r) for r in jvm.collect())
    assert got_py == got_jvm and len(got_py) > 0
    assert py.columns == jvm.columns


def test_multimodal_decode_is_stubbed():
    from etl_kafka_project_spark.ops.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")

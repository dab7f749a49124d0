"""End-to-end + per-operator tests for the log pipeline at sf0.001.

Oracle equivalence for every contract query (the same check the driver runs
at sf0.01), plus targeted semantic invariants from SURVEY.md §2.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.util import assert_df_equals_sql, multiset, plan_text

import __spark_entry__ as entrymod

QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.fixture(scope="session")
def oracles():
    return entrymod.oracle_sql(0.001)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, oracles, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, "/root/testdata/sf0.001")
    if name not in oracles:
        assert sdf.count() >= 0  # rows-only check, like the driver
        return
    assert_df_equals_sql(sdf, duck, oracles[name], name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"db", "coll", "op", "count", "avg_ms"} <= set(df.columns)


def test_route_partition_is_total(pages_001, streams_001):
    """oversized + ignored + kept == all pages (no line lost or double-routed)."""
    total = pages_001.count()
    o = streams_001["oversized"].count()
    i = streams_001["ignored"].count()
    k = streams_001["kept"].count()
    assert o + i + k == total
    assert o == 2  # deterministic oversized rows at sf0.001


def test_config_db_always_excluded(streams_001):
    ops = streams_001["ops"].filter(F.col("ns_pass"))
    assert ops.filter(F.col("db") == "config").count() == 0
    # but config rows were dispatched (counted) pre-filter
    assert streams_001["ops"].filter(F.col("db") == "config").count() > 0


def test_dispatch_first_match_order(spark):
    """find beats update when both keys present (LogParserTask.java:802-919)."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    line = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"s":"I","c":"COMMAND","id":1,'
            '"ctx":"conn1","msg":"Slow query","attr":{"ns":"d.c","durationMillis":1,'
            '"command":{"update":"c2","find":"c3","$db":"d"}}}')
    df = spark.createDataFrame([("u", line)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["op"] == "find"
    assert row["coll"] == "c3"  # collection override from the matched key


def test_aggregate_db_level_keeps_ns_collection(spark):
    """aggregate: 1 → database-level, collection from attr.ns kept."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    line = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"COMMAND","msg":"Slow query",'
            '"attr":{"ns":"d.origcoll","durationMillis":1,"command":{"aggregate":1,"$db":"d"}}}')
    df = spark.createDataFrame([("u", line)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["op"] == "aggregate" and row["coll"] == "origcoll"


def test_exec_stats_gate(spark):
    """docs/keys only extracted when nreturned present (LogParserTask.java:984-988)."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    no_nret = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"WRITE","msg":"Slow query",'
               '"attr":{"type":"update","ns":"d.c","durationMillis":1,"keysExamined":7,'
               '"docsExamined":9,"nModified":3}}')
    df = spark.createDataFrame([("u", no_nret)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["keys_examined"] is None and row["docs_examined"] is None
    assert row["nreturned"] == 3  # from nModified
    assert row["op"] == "update_w"


def test_ttl_line_feeds_both_ttl_and_ignored(streams_001):
    """TTLMonitor lines hit the TTL accumulator AND count as ignored
    (LogParser.java:641-649 + '"ctx":"TTLMonitor"' ignore pattern)."""
    ttl = streams_001["ttl_pre"].count()
    ignored_ttl = streams_001["ignored"].filter(F.col("category") == "TTL_MONITOR").count()
    assert ttl > 0 and ignored_ttl > 0


def test_integer_avg_is_floor_division(spark):
    from mongo_log_parser_spark.operators.aggregates import main_ops
    from mongo_log_parser_spark.operators.route import split_streams

    mk = lambda d, u: (  # noqa: E731
        f"https://h/p/{u}", None, None,
        '{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"COMMAND","msg":"Slow query",'
        f'"attr":{{"ns":"d.c","durationMillis":{d},"command":{{"find":"c","$db":"d"}}}}}}', "en")
    pages = spark.createDataFrame([mk(1, 1), mk(2, 2)],
                                  "url string, warc_ts timestamp, html binary, text string, lang string")
    row = main_ops(split_streams(pages)["ops"]).collect()[0]
    assert row["avg_ms"] == 1  # floor(3/2), not 1.5


def test_broadcast_join_in_enrich_plan(spark):
    """Lookup enrich must be a BroadcastHashJoin, never a SortMergeJoin."""
    from mongo_log_parser_spark.operators.joins import enrich_pages
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    ll = pipeline.read_lookup(spark, "lang_locale")
    hc = pipeline.read_lookup(spark, "host_class")
    plan = plan_text(enrich_pages(pages, ll, hc))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pushdown_reaches_scan(spark):
    """Column pruning: an op-count query must not read html/text of the scan...
    text is needed for parse; but html must be pruned everywhere."""
    from mongo_log_parser_spark.operators import aggregates, route
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    df = aggregates.op_stats(route.split_streams(pages)["ops"])
    plan = plan_text(df)
    assert "html" not in plan  # binary column pruned from the parquet scan


def test_meta_auth_shared_scan_equivalence(spark):
    """client_metadata, auth and conn_lifecycle derive from ONE shared
    localCheckpointed subset (pipeline.build): rows must equal the direct
    derivations off the kept checkpoint, and every stream must read the SAME
    checkpointed RDD — i.e. none triggers its own parquet scan of the routed
    checkpoint (the old layout scanned it four times: meta + auth through the
    wide text column, plus the lifecycle start/end pair)."""
    import re

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    res = pipeline.build(pages)
    try:
        for name, fn in (("client_metadata", route.client_metadata_records),
                         ("auth", route.auth_records),
                         ("conn_lifecycle", route.conn_lifecycle_records)):
            shared = res.streams[name]
            direct = fn(res.streams["kept"])
            assert shared.exceptAll(direct).count() == 0, name
            assert direct.exceptAll(shared).count() == 0, name
        rdd_ids = set()
        for name in ("client_metadata", "auth", "conn_lifecycle"):
            plan = plan_text(res.streams[name])
            assert "Scan parquet" not in plan, name  # reads the checkpoint RDD
            ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\]", plan))
            assert len(ids) == 1, (name, plan[:500])  # even the union's two legs
            rdd_ids |= ids
        assert len(rdd_ids) == 1  # ONE shared subset across all three streams
    finally:
        res.unpersist()


def test_build_failure_removes_stage_dir(spark, monkeypatch):
    """A build that raises after its routed checkpoint is written leaves no
    stage-* directory behind."""
    import glob
    import os

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.sources import datagen

    def failing_extract_ops(kept):
        raise RuntimeError("injected extract failure")

    stage_glob = os.path.join(datagen.DATA_ROOT, "tmp", "stage-*")
    pages = pipeline.read_pages(spark, sf=0.001)
    before = set(glob.glob(stage_glob))
    monkeypatch.setattr(route, "extract_ops", failing_extract_ops)
    with pytest.raises(RuntimeError, match="injected extract failure"):
        pipeline.build(pages)
    assert set(glob.glob(stage_glob)) == before


# pipeline.build sink → the contract log query computing it over the lazy
# split_streams path
BUILD_SINK_QUERIES = {
    "main_ops": "log_main_ops",
    "ttl_ops": "log_ttl_ops",
    "op_stats": "log_op_stats",
    "query_hash": "log_query_hash",
    "plan_cache": "log_plan_cache",
    "index_stats": "log_index_stats",
    "error_codes": "log_error_codes",
    "transactions": "log_transactions",
    "slow_planning": "log_slow_planning",
    "app_conn_stats": "log_app_conn_stats",
    "driver_stats": "log_driver_stats",
    "ignored": "log_ignored_categories",
    "ignored_sample": "log_ignored_sample",
}


def test_contract_queries_match_build_sinks(spark):
    """One router, two modes: every build sink (checkpointed streams) is
    row-equal at sf0.01 to the contract query the oracle checks (lazy
    streams), with p95 rounded the same way on both sides."""
    from mongo_log_parser_spark.contracts import log_queries
    from mongo_log_parser_spark.plans import pipeline

    res = pipeline.build(pipeline.read_pages(spark, sf=0.01))
    try:
        assert set(res.sinks) == set(BUILD_SINK_QUERIES)
        for sink, query in BUILD_SINK_QUERIES.items():
            want = log_queries._round_p95(log_queries.LOG_QUERIES[query](spark, "sf0.01"))
            got = res.sinks[sink]
            if sink == "driver_stats":  # the columns log_driver_stats drops
                got = got.drop("sample_metadata_line", "sample_auth_line")
            got = log_queries._round_p95(got)
            assert sorted(got.columns) == sorted(want.columns), sink
            want_rows = multiset(want.columns, want.collect())
            assert want_rows, sink
            assert multiset(got.columns, got.collect()) == want_rows, sink
    finally:
        res.unpersist()

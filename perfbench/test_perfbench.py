"""Tests for the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import dataclasses
import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH.parent), str(BENCH)]

import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _small(name: str, rows: int = 600) -> workloads.Workload:
    return dataclasses.replace(workloads.WORKLOADS[name], rows=rows)


def _bytes(path: str) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(Path(path).iterdir())}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_identical_inputs(tmp_path, name):
    wl = _small(name)
    a = workloads.write_pages(wl, 7, str(tmp_path / "a"))
    b = workloads.write_pages(wl, 7, str(tmp_path / "b"))
    c = workloads.write_pages(wl, 8, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_generator_leaves_datagen_mix_untouched():
    before = (list(workloads.datagen.CAT_WEIGHTS), list(workloads.datagen.NOISE_KINDS))
    workloads.build_table(_small("conn_storm", 100), 1)
    assert (list(workloads.datagen.CAT_WEIGHTS), list(workloads.datagen.NOISE_KINDS)) == before


def test_conn_storm_is_mostly_noise():
    texts = workloads.build_table(_small("conn_storm", 2000), 3).column("text").to_pylist()
    commands = sum('"msg":"Slow query"' in t and '"type":"command"' in t for t in texts)
    assert commands / len(texts) < 0.08


@pytest.fixture(scope="module")
def small_input(tmp_path_factory):
    path = workloads.write_pages(_small("slowquery_bulk", 3000), 5,
                                 str(tmp_path_factory.mktemp("in") / "pages"))
    glob = os.path.join(path, "*.parquet")
    return glob, oracle.expected_sinks(glob, threads=2)


def test_shared_cte_oracle_equals_direct_queries(small_input):
    import duckdb

    glob, shared = small_input
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for sink, query in oracle.SINK_QUERIES.items():
        rel = con.sql(query(glob))
        direct = ([c.lower() for c in rel.columns], rel.fetchall())
        assert oracle.multiset(*shared[sink]) == oracle.multiset(*direct), sink
    con.close()


def test_split_ctes_rejects_unexpected_sql():
    with pytest.raises(ValueError):
        oracle.split_ctes("SELECT 1")
    assert oracle.split_ctes("WITH a AS (SELECT '(' AS x), b AS MATERIALIZED (SELECT 1)") == [
        ("a", "SELECT '(' AS x"), ("b", "SELECT 1")]


def _expected(shared):
    return {s: {"columns": sorted(c), "rows": oracle.multiset(c, r)} for s, (c, r) in shared.items()}


def test_matching_sinks_pass(small_input):
    _, shared = small_input
    assert oracle.sink_mismatches(_expected(shared), dict(shared)) == []


def test_injected_sink_mismatch_is_caught(small_input):
    _, shared = small_input
    expected = _expected(shared)
    cols, rows = shared["main_ops"]
    i = cols.index("count")
    changed = [rows[0][:i] + (rows[0][i] + 1,) + rows[0][i + 1:]] + rows[1:]
    actual = dict(shared, main_ops=(cols, changed))
    assert oracle.sink_mismatches(expected, actual) == ["main_ops"]
    dropped = {s: v for s, v in shared.items() if s != "ttl_ops"}
    assert oracle.sink_mismatches(expected, dropped) == ["ttl_ops"]
    duplicated = dict(shared, error_codes=(shared["error_codes"][0],
                                           shared["error_codes"][1] * 2))
    assert oracle.sink_mismatches(expected, duplicated) == ["error_codes"]


def test_unchecked_columns_and_p95_rounding(small_input):
    _, shared = small_input
    expected = _expected(shared)
    cols, rows = shared["driver_stats"]
    with_samples = (cols + ["sample_metadata_line"], [r + ("line",) for r in rows])
    cols_m, rows_m = shared["main_ops"]
    p = cols_m.index("p95_ms")
    jitter = [r[:p] + (r[p] + 1e-7,) + r[p + 1:] for r in rows_m]
    actual = dict(shared, driver_stats=with_samples, main_ops=(cols_m, jitter))
    assert oracle.sink_mismatches(expected, actual) == []
    # ...but the digest sees every column
    other_samples = (with_samples[0], [r + ("other line",) for r in rows])
    assert oracle.sink_mismatches(expected, dict(actual, driver_stats=other_samples)) == []
    assert oracle.digest(actual) != oracle.digest(dict(actual, driver_stats=other_samples))


def test_digest_is_order_insensitive(small_input):
    _, shared = small_input
    cols, rows = shared["plan_cache"]
    assert oracle.digest(dict(shared, plan_cache=(cols, rows[::-1]))) == oracle.digest(shared)


def test_jobs_go_to_innermost_span():
    t = spans.Tracer("r")
    t.spans = [spans.Span("job", None, "r", 0, 100), spans.Span("build", "job", "r", 10, 50),
               spans.Span("write", "job", "r", 50, 90)]
    log = spans.EventLog([spans.Job(0, 5, 8), spans.Job(1, 20, 30), spans.Job(2, 40, 45),
                          spans.Job(3, 60, 70)], [])
    assert [j.job_id for j in spans.jobs_in(log, t.spans, {"build"})] == [1, 2]
    assert [j.job_id for j in spans.jobs_in(log, t.spans, {"job"})] == [0, 1, 2, 3]
    # build runs 10..50 with jobs busy 20..30 and 40..45: 25 ms idle
    assert spans.idle_ms(t.spans[1], spans.jobs_in(log, t.spans, {"build"})) == 25


def test_cache_key_follows_the_sources(tmp_path, monkeypatch):
    import run

    for rel in ("mongo_log_parser_spark/job.py", "perfbench/run.py", "verify_contracts.py"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("x = 1\n")
    monkeypatch.setattr(run, "ROOT", tmp_path)
    monkeypatch.setattr(run, "BENCH", tmp_path / "perfbench")
    key = run.source_key()
    assert run.source_key() == key
    (tmp_path / "mongo_log_parser_spark/job.py").write_text("x = 2\n")
    assert run.source_key() != key

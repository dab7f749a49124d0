"""Expected sink contents from the DuckDB oracle, and the check of a run's sinks.

Every ``contracts/log_oracle.q_*`` query is ``base_ctes(path) + tail``. The
base chain (scan, route, JSON projection, dispatch) is the expensive part and
is identical for all of them, so it is executed once per input: each CTE of
the chain becomes a temp table, in order, and each query's tail then runs
against those tables. The SQL text is the oracle's own, unedited. On 4 CPUs
this takes 3.8 s for slowquery_bulk and 2.7 s for conn_storm; the 13 queries
run one by one take 25 s and 12 s, which every benchmark run with a new seed
would pay.

Rows are compared as order-insensitive multisets with
``verify_contracts.df_multiset``. As in ``contracts/log_queries``, ``p95*``
columns are rounded to 4 places on the engine side and driver_stats drops its
two sample-line columns, which the oracle does not reproduce.
"""

from __future__ import annotations

import hashlib
import math

from mongo_log_parser_spark.contracts import log_oracle

from verify_contracts import df_multiset

# sink name written by job.run_job -> oracle query builder
SINK_QUERIES = {
    "main_ops": log_oracle.q_main_ops,
    "ttl_ops": log_oracle.q_ttl_ops,
    "op_stats": log_oracle.q_op_stats,
    "query_hash": log_oracle.q_query_hash,
    "plan_cache": log_oracle.q_plan_cache,
    "index_stats": log_oracle.q_index_stats,
    "error_codes": log_oracle.q_error_codes,
    "transactions": log_oracle.q_transactions,
    "slow_planning": log_oracle.q_slow_planning,
    "app_conn_stats": log_oracle.q_app_conn_stats,
    "driver_stats": log_oracle.q_driver_stats,
    "ignored": log_oracle.q_ignored_categories,
    "ignored_sample": log_oracle.q_ignored_sample,
}
UNCHECKED_COLUMNS = {"driver_stats": ("sample_metadata_line", "sample_auth_line")}


def split_ctes(sql: str) -> list[tuple[str, str]]:
    """``WITH a AS (...), b AS MATERIALIZED (...)`` -> [(a, body), (b, body)].

    Splits at top-level parentheses, skipping quoted literals and ``--``
    comments; raises
    ValueError on anything else, so a reshaped oracle fails loudly."""
    s = sql.strip()
    if not s.upper().startswith("WITH"):
        raise ValueError("oracle base is not a WITH chain")
    i, out = 4, []
    while i < len(s):
        head_end = s.index("(", i)
        head = s[i:head_end].split()
        if len(head) not in (2, 3) or head[1].upper() != "AS":
            raise ValueError(f"unexpected CTE header {head!r}")
        depth, j, quoted = 0, head_end, False
        while True:
            ch = s[j]
            if quoted:
                quoted = ch != "'"
            elif ch == "'":
                quoted = True
            elif s.startswith("--", j):
                j = s.index("\n", j)
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        out.append((head[0], s[head_end + 1:j]))
        i = j + 1
        rest = s[i:].lstrip()
        if not rest:
            break
        if rest[0] != ",":
            raise ValueError("text after the CTE chain")
        i = len(s) - len(rest) + 1
    return out


def expected_sinks(pages_glob: str, threads: int) -> dict[str, tuple[list[str], list[tuple]]]:
    """sink -> (lower-cased columns, rows) from the oracle over `pages_glob`."""
    import duckdb

    base = log_oracle.base_ctes(pages_glob)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"SET threads={threads}")
        for name, body in split_ctes(base):
            con.execute(f"CREATE TEMP TABLE {name} AS {body}")
        out = {}
        for sink, query in SINK_QUERIES.items():
            sql = query(pages_glob)
            if not sql.startswith(base):
                raise ValueError(f"oracle query for {sink} does not extend base_ctes")
            tail = sql[len(base):].lstrip()
            if tail.startswith(","):
                tail = "WITH " + tail[1:]
            rel = con.sql(tail)
            out[sink] = ([c.lower() for c in rel.columns], rel.fetchall())
        return out
    finally:
        con.close()


def read_sink(path: str) -> tuple[list[str], list[tuple]]:
    """A parquet sink directory as (lower-cased columns, rows)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = [c.lower() for c in table.column_names]
    return cols, [tuple(r.values()) for r in table.to_pylist()]


def comparable(sink: str, cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """The engine's rows as the oracle states them: unchecked columns dropped,
    p95* rounded to 4 places."""
    keep = [i for i, c in enumerate(cols) if c not in UNCHECKED_COLUMNS.get(sink, ())]
    rnd = {i for i in keep if cols[i].startswith("p95")}

    def fix(i, v):
        if i in rnd and isinstance(v, float) and not math.isnan(v):
            return round(v, 4)
        return v

    return [cols[i] for i in keep], [tuple(fix(i, r[i]) for i in keep) for r in rows]


def multiset(cols: list[str], rows: list[tuple]) -> dict[str, int]:
    """Order-insensitive multiset of rows, keyed by verify_contracts' canon."""
    return dict(df_multiset(cols, rows))


def sink_mismatches(expected: dict[str, dict], actual: dict[str, tuple[list[str], list[tuple]]]) -> list[str]:
    """Sinks whose rows differ from the oracle. `expected` maps each sink to
    {"columns": sorted columns, "rows": multiset}; `actual` to raw (cols, rows)."""
    bad = []
    for sink, exp in expected.items():
        if sink not in actual:
            bad.append(sink)
            continue
        cols, rows = comparable(sink, *actual[sink])
        if sorted(cols) != exp["columns"] or multiset(cols, rows) != exp["rows"]:
            bad.append(sink)
    return bad


def expected_multisets(pages_glob: str, threads: int) -> dict[str, dict]:
    return {sink: {"columns": sorted(cols), "rows": multiset(cols, rows)}
            for sink, (cols, rows) in expected_sinks(pages_glob, threads).items()}


def digest(actual: dict[str, tuple[list[str], list[tuple]]]) -> str:
    """Order-insensitive digest of every column of every sink, sample lines
    and unrounded p95s included: two runs on one input must agree on it."""
    h = hashlib.sha256()
    for sink in sorted(actual):
        cols, rows = actual[sink]
        h.update(sink.encode())
        for key, n in sorted(multiset(cols, rows).items()):
            h.update(f"{n}\x1e{key}\x1d".encode())
    return h.hexdigest()

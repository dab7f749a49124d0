from __future__ import annotations

import contextlib
import gzip
import io
import math
import os
from collections import Counter


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return Counter("\x1f".join(canon(r[i]) for i in order) for r in rows)


def assert_df_equals_sql(sdf, con, sql, name=""):
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(sql)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: schema {sorted(scols)} != {sorted(ocols)}"
    assert len(srows) == len(orows), f"{name}: rowcount {len(srows)} != {len(orows)}"
    sm, om = multiset(scols, srows), multiset(ocols, orows)
    if sm != om:
        s_only = list((sm - om).items())[:3]
        o_only = list((om - sm).items())[:3]
        raise AssertionError(f"{name}: value mismatch\n spark-only: {s_only}\n oracle-only: {o_only}")


def plan_text(df) -> str:
    """The plan as the public `df.explain(mode="formatted")` prints it."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def write_shard_log_files(tmp: str, spark) -> list[str]:
    """400 synthetic log lines as two shard-named files (one plain, one
    gzip) under `tmp`: shards 01/02 and 03/04."""
    from mongo_log_parser_spark.sources import datagen

    texts = [
        r["text"]
        for r in spark.read.parquet(datagen.ensure_pages(0.001)).select("text").limit(400).collect()
    ]
    plain = os.path.join(tmp, "cluster0-shard-01-02.log")
    with open(plain, "w") as f:
        f.write("\n".join(texts[:200]))
    gz = os.path.join(tmp, "cluster0-shard-03-04.log.gz")
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(texts[200:]))
    return [plain, gz]

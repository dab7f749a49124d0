"""Gopher-style repetition filters, PII scrubbing, and URL operators —
each checked against a hand-written DuckDB oracle (the house evidence
standard), on crafted edge-case corpora AND the driver-generated sf0.001
tables. Promoted to driver-contract rows (text_repetition_stats,
text_pii_scrub, url_parts, url_domain_stats, url_dedup_latest); the oracle
SQL builders live in contracts/data_oracle.py and are imported here so both
evidence channels share one source of truth."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mongo_log_parser_spark.contracts.data_oracle import (
    pii_sql as _pii_sql,
    repetition_sql as _repetition_sql,
    url_parts_sql as _parts_sql,
)
from mongo_log_parser_spark.functions import quality, urls
from tests.util import assert_df_equals_sql, plan_text

DOCS = "read_parquet('/root/testdata/sf0.001/documents.parquet')"


# --------------------------------------------------------- crafted corpus

CRAFTED_DOCS = [
    (0, "one line only"),
    (1, "dup\ndup\nother\ndup"),
    (2, "a b a b a b a b c"),
    (3, "x y z x y z x y z x y z"),
    (4, ""),
    (5, "  spaced   out\ttabs  "),
    (6, "Write to bob.smith+x@mail.example.com or 10.0.0.1 now"),
    (7, "call +1 (555) 123-4567 or 555-000-1111; ip 192.168.1.100 end"),
    (8, "no pii here, just 42 and 3.14 words"),
    (9, "alpha@beta.io alpha@beta.io twice"),
]


@pytest.fixture(scope="module")
def crafted(spark, duck):
    pdf = pd.DataFrame(CRAFTED_DOCS, columns=["doc_id", "text"])
    duck.register("crafted_docs", pdf)
    return spark.createDataFrame(pdf)


# ------------------------------------------------------------------ tests

def test_repetition_stats_crafted_vs_oracle(crafted, duck):
    got = quality.repetition_stats(crafted)
    assert_df_equals_sql(got, duck, _repetition_sql("crafted_docs"), "rep-crafted")


def test_repetition_stats_sf0001_vs_oracle(spark, duck):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = quality.repetition_stats(docs)
    assert_df_equals_sql(got, duck, _repetition_sql(DOCS), "rep-sf0.001")


def test_repetition_stats_zero_shuffle(crafted):
    plan = plan_text(quality.repetition_stats(crafted))
    assert "Exchange" not in plan, f"repetition_stats must be shuffle-free:\n{plan}"


def test_repetition_pass_flags_repeats(crafted):
    rows = {
        r["doc_id"]: r["keep"]
        for r in quality.repetition_stats(crafted)
        .withColumn("keep", quality.repetition_pass()).collect()
    }
    assert rows[0] is True          # clean single line
    assert rows[1] is False         # 2/4 duplicate lines
    assert rows[2] is False         # "a b" dominates
    assert rows[3] is False         # "x y z" dominates
    assert rows[4] is True          # empty doc: all fractions 0


def test_pii_scrub_crafted_vs_oracle(crafted, duck):
    got = quality.pii_scrub(crafted)
    assert_df_equals_sql(got, duck, _pii_sql("crafted_docs"), "pii-crafted")


def test_pii_scrub_values(crafted):
    rows = {r["doc_id"]: r for r in quality.pii_scrub(crafted).collect()}
    assert rows[6]["n_email"] == 1 and rows[6]["n_ip"] == 1
    assert "<EMAIL>" in rows[6]["scrubbed_text"]
    assert "bob.smith" not in rows[6]["scrubbed_text"]
    assert rows[7]["n_ip"] == 1 and rows[7]["n_phone"] >= 2
    assert "192.168" not in rows[7]["scrubbed_text"]
    assert rows[8]["n_email"] == rows[8]["n_ip"] == rows[8]["n_phone"] == 0
    assert rows[8]["scrubbed_text"] == CRAFTED_DOCS[8][1]
    assert rows[9]["n_email"] == 2


def test_pii_scrub_sf0001_vs_oracle(spark, duck):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert_df_equals_sql(quality.pii_scrub(docs), duck, _pii_sql(DOCS), "pii-sf0.001")


CRAFTED_URLS = [
    ("https://www.Example.COM:443/a/b/?utm_source=x&q=1#frag", "2024-01-02 00:00:00"),
    ("https://example.com/a/b?q=1", "2024-01-01 00:00:00"),
    ("http://sub.example.org:80/path/", "2024-01-01 00:00:00"),
    ("http://sub.example.org/path", "2024-03-01 00:00:00"),
    ("https://only.example.net/?utm_a=1&utm_b=2", "2024-01-01 00:00:00"),
    ("https://other.site.io/p?utm_x=1&keep=2&utm_y=3", "2024-01-01 00:00:00"),
]


@pytest.fixture(scope="module")
def crafted_urls(spark, duck):
    pdf = pd.DataFrame(CRAFTED_URLS, columns=["url", "warc_ts"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    pdf["lang"] = ["en", "en", "de", "de", "fr", "fr"]
    duck.register("crafted_urls", pdf)
    return spark.createDataFrame(pdf)


def test_normalize_url_expected_values(spark, crafted_urls):
    got = dict(
        crafted_urls.select("url", urls.normalize_url(F.col("url")).alias("n"))
        .collect())
    assert got["https://www.Example.COM:443/a/b/?utm_source=x&q=1#frag"] == "https://example.com/a/b?q=1"
    assert got["http://sub.example.org:80/path/"] == "http://sub.example.org/path"
    assert got["https://only.example.net/?utm_a=1&utm_b=2"] == "https://only.example.net"
    assert got["https://other.site.io/p?utm_x=1&keep=2&utm_y=3"] == "https://other.site.io/p?keep=2"


def test_url_parts_crafted_vs_oracle(crafted_urls, duck):
    got = urls.url_parts(crafted_urls).drop("warc_ts", "lang")
    assert_df_equals_sql(got, duck, _parts_sql("crafted_urls"), "parts-crafted")


def test_url_parts_pages_vs_oracle(spark, pages_001, duck):
    got = urls.url_parts(pages_001.select("url"))
    duck.execute(
        "CREATE OR REPLACE VIEW pages_v AS SELECT url FROM "
        "read_parquet('data/pages/v1/sf0.001/pages/*.parquet')")
    assert_df_equals_sql(got, duck, _parts_sql("pages_v"), "parts-pages")


def test_domain_stats_pages_vs_oracle(pages_001, duck):
    got = urls.domain_stats(pages_001.select("url", "lang"))
    duck.execute(
        "CREATE OR REPLACE VIEW pages_dl AS SELECT url, lang FROM "
        "read_parquet('data/pages/v1/sf0.001/pages/*.parquet')")
    sql = f"""
WITH p AS ({_parts_sql('pages_dl', extra_cols=', lang')})
SELECT domain, count(*) AS n_pages,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT lang) AS n_langs
FROM p GROUP BY domain
"""
    assert_df_equals_sql(got, duck, sql, "domain-stats")


def test_url_dedup_latest_vs_oracle(crafted_urls, duck):
    got = urls.url_dedup_latest(crafted_urls)
    sql = f"""
WITH p AS ({_parts_sql('crafted_urls', extra_cols=', warc_ts')}),
r AS (
  SELECT norm_url, url,
         row_number() OVER (PARTITION BY norm_url ORDER BY warc_ts DESC, url DESC) AS rn,
         count(*) OVER (PARTITION BY norm_url) AS n
  FROM p)
SELECT norm_url, url AS kept_url, n AS n_versions FROM r WHERE rn = 1
"""
    assert_df_equals_sql(got, duck, sql, "url-dedup")
    rows = {r["norm_url"]: r for r in got.collect()}
    # the two https://example.com/a/b?q=1 variants collapse; utm/frag variant is newer
    assert rows["https://example.com/a/b?q=1"]["n_versions"] == 2
    assert rows["https://example.com/a/b?q=1"]["kept_url"].startswith("https://www.")
    assert rows["http://sub.example.org/path"]["n_versions"] == 2


def test_filter_blocked_domains_broadcast_and_parity(spark, crafted_urls, duck):
    blocked = urls.blocked_domains_df(spark, ["example.com", "site.io"])
    got = urls.filter_blocked_domains(crafted_urls.select("url"), blocked)
    plan = plan_text(got)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    sql = f"""
WITH p AS ({_parts_sql('crafted_urls')})
SELECT domain, url, norm_url, host, tld, path FROM p
WHERE domain NOT IN ('example.com', 'site.io')
"""
    assert_df_equals_sql(got, duck, sql, "blocklist")

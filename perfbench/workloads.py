"""Seeded benchmark workloads built from the line grammar of sources/datagen.py.

Each workload is a category mix over datagen's own line builders: the rows are
produced by ``datagen._build_rows`` with the module's category weights (and,
for the noise-heavy mix, its noise kinds) swapped in for the duration of the
call, so every line follows the same grammar as the contract's pages table.
The seed drives the generator; ``datagen`` itself is left untouched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from unittest import mock

import numpy as np

from mongo_log_parser_spark.sources import datagen


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    # weights over datagen.CATS: cmd, write, ttl, txn, meta, auth,
    # conn_accept, conn_end, noise
    cat_weights: tuple[float, ...]
    noise_kinds: tuple[str, ...] = tuple(datagen.NOISE_KINDS)


WORKLOADS = {
    # datagen's default mix: 55% commands, 13% noise, one line in 3000
    # over 1 MiB. Parse, checkpoint writes and the ops aggregates carry the
    # per-row work.
    "slowquery_bulk": Workload(
        "slowquery_bulk", 20_000, tuple(float(w) for w in datagen.CAT_WEIGHTS)),
    # ~75% ignored noise (NETWORK / ACCESS / STORAGE / heartbeat / non-JSON),
    # 20% connection, client-metadata and auth lines, 5% commands: the
    # prefilter, the skip-parse path, the ignored rows' text in the routed
    # checkpoint and the driver_stats join carry the per-row work.
    "conn_storm": Workload(
        "conn_storm", 50_000,
        (0.035, 0.005, 0.005, 0.005, 0.05, 0.05, 0.05, 0.05, 0.75),
        ("network", "access", "storage", "replication", "non_json")),
}


def build_table(workload: Workload, seed: int):
    """The workload's pages table (datagen's schema) for one seed."""
    import pyarrow as pa

    weights = np.array(workload.cat_weights)
    rng = np.random.default_rng(np.random.PCG64(seed))
    with mock.patch.object(datagen, "CAT_WEIGHTS", weights), \
            mock.patch.object(datagen, "NOISE_KINDS", list(workload.noise_kinds)):
        urls, warc_ts, htmls, texts, langs, _hosts = datagen._build_rows(workload.rows, rng)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def write_pages(workload: Workload, seed: int, path: str) -> str:
    """Write the workload as datagen's multi-part parquet layout at `path`
    (a directory of part files; the same seed gives the same bytes)."""
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen._write_parts(build_table(workload, seed), path)
    return path

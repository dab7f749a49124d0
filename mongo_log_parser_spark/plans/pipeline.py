"""End-to-end pipeline assembly (SURVEY.md §3.1 Spark restatement):

  scan → prefilter (F1-F4) → vectorized parse (E1-E2) → route (F5-F11)
       → extract (E3-E20) → aggregates (A1-A12) + joins (J1-J3) → sinks

One router: every stream comes from route.derive_streams over the one-scan
route.routed_parse frame. `build` runs it in one of two modes:

  cache=True   (default) write the routed frame (parsed + routing flags:
               kept, ignored and TTL in one scan, one Arrow parse, one
               write) and the dispatched `ops` to parquet under a `stage-*`
               workdir, and derive every stream from the read-back
               checkpoints. Each sink then scans flat columnar data with
               pruning and pushdown — the stage-checkpoint pattern a large
               pipeline uses between the parse and aggregate waves.
  cache=False  the same derivation over the lazy routed frame — right for
               small interactive/correctness queries.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates as agg
from ..operators import joins, route
from ..sources import datagen


def read_pages(spark: SparkSession, sf: float | None = None, path: str | None = None) -> DataFrame:
    path = path or datagen.ensure_pages(sf if sf is not None else 0.001)
    return spark.read.parquet(path)


def read_lookup(spark: SparkSession, name: str) -> DataFrame:
    p = datagen.lookup_path(name)
    if not os.path.exists(p):
        datagen.ensure_pages(0.001)  # generates lookups as a side effect
    return spark.read.parquet(p)


@dataclass
class PipelineResult:
    streams: dict[str, DataFrame]
    sinks: dict[str, DataFrame] = field(default_factory=dict)
    workdir: str | None = None

    def unpersist(self) -> None:
        if self.workdir:
            shutil.rmtree(self.workdir, ignore_errors=True)


def _checkpoint(df: DataFrame, path: str) -> DataFrame:
    """Write `df` to parquet and read it back. The explicit schema skips the
    footer-inference job on read-back."""
    schema = df.schema
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(schema).parquet(path)


def build(
    pages: DataFrame,
    cache: bool = True,
    workdir: str | None = None,
    ignore_patterns: list[str] | None = None,
) -> PipelineResult:
    routed = route.routed_parse(pages, ignore_patterns=ignore_patterns)
    if not cache:
        streams = route.derive_streams(pages, routed)
        return PipelineResult(streams=streams, sinks=sinks(streams))
    workdir = workdir or os.path.join(
        datagen.DATA_ROOT, "tmp", f"stage-{uuid.uuid4().hex[:8]}"
    )
    try:
        ckpt = _checkpoint(routed, os.path.join(workdir, "routed"))
        # client_metadata, auth and conn_lifecycle share ONE scan: each
        # filters to a tiny subset (a few % of rows together), but as
        # separate lazy plans driver_stats' materialization would scan the
        # checkpoint FOUR times per wave — client-metadata (probe side) and
        # auth (broadcast side) each decompressing the full `text` column,
        # the widest one stored, plus the lifecycle union's start/end pair
        # re-reading the url/ts_str/ctx string columns twice. The
        # union-predicate subset is localCheckpointed lazily ONCE and every
        # side channel applies its own filter over it.
        is_meta = (F.col("comp") == "NETWORK") & (F.col("msg") == "client metadata")
        is_auth = (F.col("comp") == "ACCESS") & (F.col("msg") == "Successfully authenticated")
        is_lifecycle = F.col("msg").isin("Connection accepted", "Connection ended")
        conn_side = ckpt.filter(
            ~F.col("is_ignored") & (is_meta | is_auth | is_lifecycle)
        ).select(
            "url", "ts_str", "ctx", "comp", "msg", "has_attr", "a_remote",
            "drv_name", "drv_version", "os_type", "os_name", "platform",
            "compressors", "a_user", "a_db", "a_mechanism", "a_connection_id",
            "text",
        ).localCheckpoint(eager=False)
        streams = route.derive_streams(pages, ckpt, conn_side=conn_side)
        # `ops` is written derived FROM the routed checkpoint —
        # deriving it from the lazy frame would re-run the Arrow parse over
        # every kept line (2x parse cost; the round-1 scaling-gate failure).
        streams["ops"] = _checkpoint(streams["ops"], os.path.join(workdir, "ops"))
    except BaseException:
        shutil.rmtree(workdir, ignore_errors=True)
        raise
    return PipelineResult(streams=streams, sinks=sinks(streams), workdir=workdir)


def sinks(streams: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The report sinks over a stream dict — the one sink table, shared by
    build and job.run_job's --ns-filter rebuild."""
    return {
        "main_ops": agg.main_ops(streams["ops"]),
        "ttl_ops": agg.ttl_ops(streams["ttl_pre"]),
        "op_stats": agg.op_stats(streams["ops"]),
        "query_hash": agg.query_hash(streams["ops"]),
        "plan_cache": agg.plan_cache(streams["ops"]),
        "index_stats": agg.index_stats(streams["ops"]),
        "error_codes": agg.error_codes(streams["errors"]),
        "transactions": agg.transactions(streams["transactions"]),
        "slow_planning": agg.slow_planning(streams["ops"]),
        "app_conn_stats": agg.app_conn_stats(streams["ops"]),
        "driver_stats": joins.driver_stats(
            streams["client_metadata"], streams["auth"], streams["conn_lifecycle"]
        ),
        "ignored": agg.ignored_stats(streams["ignored"]),
        "ignored_sample": route.ignored_sample(streams["ignored"]),
    }

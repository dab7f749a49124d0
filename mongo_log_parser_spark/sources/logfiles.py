"""S1/S2/S4/E17 — raw log-file sources.

The reference's native input is files of MongoDB structured-log lines, plain
or gzip/zip (LogParser.createReader, LogParser.java:793-808; MIME sniff 597).
Spark/Hadoop reads .gz text transparently (S2 — no codec logic needed); zip
is not a Hadoop codec, so read_log_files routes .zip paths through a
binaryFile + mapInPandas unzip (read_zip_log_files) that decodes EVERY
archive entry — strictly more than the reference, whose ZipInputStream never
calls getNextEntry() and therefore reads zero lines from a zip
(LogParser.java:801-804).

read_log_files() produces a pages-shaped DataFrame so the entire pipeline
(route/extract/aggregate) runs unchanged on real log files:
  url      = file#<content-hash>  (partition-layout-invariant row tag; NOT a
             row-uniqueness key — byte-identical lines within one file share
             a url, and the 60-bit hash can collide at billions of lines.
             Nothing may dedup or count by url; it exists so url-keyed
             tiebreaks/samples are deterministic under any partitioning.
             Zip mode differs: true line numbers, unique per entry.)
  warc_ts  = null         (event time comes from the parsed $date)
  text     = the line

E17: shard/node lineage extracted from the filename (`shard-(\\d+)-(\\d+)`,
ShardInfo.java:11) — included as columns so J4-style per-shard grouping is an
extra groupBy key, not a separate accumulator map.

S4: `limit_per_file` reproduces `--limit N` (LogParser.java:117-118, 634-638)
via a row_number window over input_file_name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_zip_log_files(spark: SparkSession, paths: list[str],
                       limit_per_file: int | None = None) -> DataFrame:
    """S2 zip — one Arrow batch row per archive; every entry's lines emitted.

    Zip archives are not splittable, so (like the reference) parallelism is
    per-file; binaryFile caps single files at 2 GiB — split larger archives
    upstream. Line numbers here are true per-file positions (the unzip is
    already a per-file sequential read, so they're free)."""
    import io
    import zipfile
    from collections.abc import Iterator

    import pandas as pd

    limit = limit_per_file

    def unzip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows, lineno = [], 0
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for name in zf.namelist():
                        if name.endswith("/"):
                            continue
                        with zf.open(name) as fh:
                            for raw in io.TextIOWrapper(fh, encoding="utf-8", errors="replace"):
                                lineno += 1
                                if limit is not None and lineno > limit:
                                    break
                                rows.append([path, lineno, raw.rstrip("\n").rstrip("\r")])
                        if limit is not None and lineno > limit:
                            break
                yield pd.DataFrame(rows, columns=["_file", "_lineno", "value"])

    binary = spark.read.format("binaryFile").load(paths).select("path", "content")
    return binary.mapInPandas(unzip, "_file string, _lineno long, value string")


def read_log_files(spark: SparkSession, paths: str | list[str],
                   limit_per_file: int | None = None) -> DataFrame:
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        # Spark would read an empty path list as an empty frame, so a missing
        # input would surface far downstream as zero rows
        raise ValueError("read_log_files: no log file paths given")
    zips = [p for p in paths if p.endswith(".zip")]
    texts = [p for p in paths if not p.endswith(".zip")]
    if zips and not texts:
        df = read_zip_log_files(spark, zips, limit_per_file)
        return _shape_pages(df)
    if zips:
        return _shape_pages(read_zip_log_files(spark, zips, limit_per_file)).unionByName(
            read_log_files(spark, texts, limit_per_file)
        )
    df = spark.read.text(paths).withColumn("_file", F.input_file_name())
    if limit_per_file is not None:
        # --limit N needs true per-file line numbers → one window shuffle,
        # paid only when the flag is set.
        w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
        df = df.withColumn("_lineno", F.row_number().over(w)).filter(
            F.col("_lineno") <= limit_per_file
        )
    else:
        # Lineage id derived from CONTENT (first 60 bits of md5(line)), not
        # monotonically_increasing_id: the url — and therefore every
        # url-keyed sample/tiebreak pick downstream (ignored_sample,
        # min_by(concat(ts_str, url))) — is identical at any partitioning /
        # cluster size. No Exchange, no single-reducer-per-file bottleneck.
        # Byte-identical lines within one file share a url (they are the
        # same observation; any tie-broken pick between them is
        # content-identical). --limit mode keeps true per-file line numbers.
        df = df.withColumn(
            "_lineno",
            F.conv(F.substring(F.md5(F.col("value")), 1, 15), 16, 10).cast("long"),
        )
    return _shape_pages(df)


def _shape_pages(df: DataFrame) -> DataFrame:
    """(_file, _lineno, value) → the pages-shaped frame (E17 lineage cols)."""
    return df.select(
        F.concat(F.col("_file"), F.lit("#"), F.lpad(F.col("_lineno").cast("string"), 19, "0")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("value").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.regexp_extract("_file", r"shard-(\d+)-(\d+)", 1).alias("shard"),
        F.regexp_extract("_file", r"shard-(\d+)-(\d+)", 2).alias("node"),
        F.col("_file").alias("source_file"),
    )


def namespace_filter_predicate(filters: list[str]):
    """F5 — exact / `db.*` wildcard / db-only / generic glob namespace filters;
    config db always excluded (LogParserTask.java:361-408).

    Returns a function(db_col, coll_col) -> boolean Column to AND into ns_pass.
    """
    from pyspark.sql import Column

    def pred(db: Column, coll: Column) -> Column:
        ns = F.concat_ws(".", db, coll)
        ok = F.lit(False)
        for flt in filters:
            if flt.endswith(".*"):
                ok = ok | (db == flt[:-2])
            elif "*" in flt:
                regex = "^" + flt.replace(".", r"\.").replace("*", ".*") + "$"
                ok = ok | ns.rlike(regex)
            elif "." not in flt:
                ok = ok | (db == flt)
            else:
                ok = ok | (ns == flt)
        if not filters:
            ok = F.lit(True)
        return ok & (db.isNull() | (db != "config"))

    return pred

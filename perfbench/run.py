#!/usr/bin/env python3
"""Job-level benchmark: what one ``mongo_log_parser_spark.job.run_job`` costs.

    python3 perfbench/run.py --workload slowquery_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root (or any directory; paths resolve from this file).
Each run generates its workload from the seed (perfbench/workloads.py), computes
the DuckDB oracle for it (perfbench/oracle.py; both cached under
.perfbench_work/ per workload, seed and hash of the sources), starts a
local[nproc] session with ``session.build_session`` and calls ``run_job`` with
``--pages <generated> --out <fresh dir> --drivers --app-name-stats``, so all 13
parquet sinks, report.html and report.json are written. Every call's sinks
are checked against the oracle and against the digest of earlier runs of the
same input and sources.

--trace 0 prints the end-to-end metrics. The first ``run_job`` in a fresh
session is the one timed: it is what a ``python -m mongo_log_parser_spark.job``
user pays after session start. Its wall time is reported with the host's
CPU steal share taken out (steal_free), so that neighbours on a shared VM do
not set the figure. Calls repeat until --seconds have passed; the medians
are reported.

--trace 1 prints the per-layer metrics instead: with Spark's event log on, a
fresh session runs the same public functions ``run_job`` calls, in its order,
with a span around each (perfbench/spans.py), then isolation probes as noop
writes. It is checked against untraced calls of the same input and sources,
recorded by earlier runs or else made first in another fresh session.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
MIB = 1024 * 1024
JOB_FLAGS = ("--drivers", "--app-name-stats")
# how far the traced run's spans may cover more or less than the wall time of
# the untraced reference call before the trace counts as unfaithful
COVERAGE_TOLERANCE = 0.25


def host_sizing() -> tuple[int, int]:
    """(cpus, driver memory MiB): the session's width and shuffle partitions
    follow the CPUs this process may run on; the driver heap is a quarter of
    host RAM capped at 2 GiB, far below the 24g session default, which
    exceeds the RAM of a 15 GB host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, min(2048, mem_kb // 1024 // 4)


def configure_env(run_dir: Path, cpus: int, driver_mb: int) -> None:
    """Point every writer of the program and of Spark inside `run_dir`, and
    make the package importable by Python workers from any directory."""
    for sub in ("data", "local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DATA_DIR": str(run_dir / "data"),  # pipeline stage-* workdirs
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [str(ROOT), str(BENCH)]


def source_key() -> str:
    """Hash of the program's and the benchmark's sources. The generator, the
    oracle and the sinks all come from them, so inputs, expected sinks and the
    run digest are cached per source version and never compared across it."""
    h = hashlib.sha256()
    files = [*(ROOT / "mongo_log_parser_spark").rglob("*.py"), *BENCH.glob("*.py"),
             ROOT / "verify_contracts.py"]
    for path in sorted(files):
        h.update(f"{path.relative_to(ROOT)}\0{path.stat().st_size}\0".encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def prepare_inputs(name: str, seed: int, cpus: int) -> tuple[str, int, "Checker"]:
    """(pages dir, rows, output checker) for one workload, seed and source
    version. The cached record holds the oracle's expected sinks and, once a
    run has passed, the sink digest every later run of this input must
    reproduce."""
    import oracle
    import workloads

    wl = workloads.WORKLOADS[name]
    cache = WORK / "cache" / f"{name}-r{wl.rows}-s{seed}-{source_key()}"
    pages = workloads.write_pages(wl, seed, str(cache / "pages"))
    record_path = cache / "oracle.json"
    if record_path.exists():
        record = json.loads(record_path.read_text())
    else:
        record = {"expected": oracle.expected_multisets(os.path.join(pages, "*.parquet"), cpus),
                  "digest": None}
        save_record(record_path, record)
    return pages, wl.rows, Checker(record, record_path)


def save_record(path: Path, record: dict) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(record))
    os.replace(tmp, path)


def start_session(cpus: int, run_dir: Path, event_log: Path | None = None):
    # the job module's import chain is set-up too, as for a command-line user
    from mongo_log_parser_spark import job  # noqa: F401
    from mongo_log_parser_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(event_log),
                     "spark.eventLog.compress": "false"})
    return build_session(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then wait for the driver JVM and every process under it
    (the Python worker daemon and its workers) to exit."""
    import signal
    import subprocess

    from pyspark import SparkContext

    import procstat

    started = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # orphaned workers are reparented away from us, so poll them by pid
    deadline = time.monotonic() + 30
    while started:
        started = [p for p in started if procstat.state(p) not in (None, "Z")]
        if started and time.monotonic() > deadline:
            for p in started:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def run_job(spark, pages: str, out: str) -> None:
    from mongo_log_parser_spark import job

    args = job.build_parser().parse_args(["--pages", pages, "--out", out, *JOB_FLAGS])
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries only results
        job.run_job(spark, args)


class Checker:
    """Checks each call's output against the oracle and the run digest."""

    def __init__(self, record: dict, record_path: Path):
        self.record, self.record_path = record, record_path
        self.attempted = self.failed = 0

    def check(self, out: str, raised: bool) -> bool:
        import oracle

        self.attempted += 1
        ok = not raised
        if ok:
            try:
                actual = {s: oracle.read_sink(os.path.join(out, "sinks", s))
                          for s in oracle.SINK_QUERIES}
            except OSError as e:
                print(f"[perfbench] sinks missing under {out}: {e}", file=sys.stderr)
                ok = False
        if ok:
            bad = oracle.sink_mismatches(self.record["expected"], actual)
            reports = [r for r in ("report.html", "report.json")
                       if not os.path.isfile(os.path.join(out, r))]
            dig = oracle.digest(actual)
            if bad or reports:
                print(f"[perfbench] mismatch vs oracle: {bad} missing: {reports}", file=sys.stderr)
                ok = False
            elif self.record["digest"] is None:
                self.record["digest"] = dig
                save_record(self.record_path, self.record)
            elif self.record["digest"] != dig:
                print("[perfbench] sink digest differs from earlier runs", file=sys.stderr)
                ok = False
        shutil.rmtree(out, ignore_errors=True)
        self.failed += not ok
        return ok


def call(fn, *args) -> bool:
    """Run one program call; True (traceback on stderr) if it raised."""
    try:
        fn(*args)
        return False
    except Exception:
        traceback.print_exc()
        return True


def steal_free(wall: float, steal: float) -> float:
    """Wall time with the host's CPU steal share taken out: what the call
    would take without neighbours on a shared VM, where they stretch one cold
    run_job from 43 s to 89 s."""
    return wall * (1 - steal)


def timed_call(spark, pages: str, out: str, checker: Checker) -> dict:
    """One untraced run_job: its steal-free wall s, and the CPU s and peak RSS
    bytes of the process tree. A call that passes its check is recorded with
    its input, with its Spark job count, for traced runs to compare with."""
    import procstat

    pid, tracker = os.getpid(), spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    ticks0, cpu0 = procstat.host_ticks(), procstat.cpu_seconds(pid)
    with procstat.PeakRss(pid) as peak:
        t0 = time.perf_counter()
        raised = call(run_job, spark, pages, out)
        wall = time.perf_counter() - t0
    cpu = procstat.cpu_seconds(pid) - cpu0
    steal = procstat.steal_share(ticks0)
    job_s = steal_free(wall, steal)
    jobs = len(set(tracker.getJobIdsForGroup()) - before)
    print(f"[perfbench] run_job: {wall:.2f} s wall, host CPU steal {steal:.1%}, "
          f"{job_s:.2f} s steal-free, {jobs} Spark jobs", file=sys.stderr)
    if checker.check(out, raised):
        checker.record.setdefault("untraced", []).append({"job_s": job_s, "jobs": jobs})
        save_record(checker.record_path, checker.record)
    return {"job_s": job_s, "cpu_s": cpu, "rss": peak.peak}


def measure(spark, pages: str, rows: int, seconds: float, run_dir: Path,
            checker: Checker) -> dict:
    calls = []
    t_end = time.perf_counter() + seconds
    while not calls or time.perf_counter() < t_end:
        calls.append(timed_call(spark, pages, str(run_dir / f"out-{len(calls)}"), checker))

    def med(key):
        return statistics.median(c[key] for c in calls)

    return {
        "job_s": (med("job_s"), "s"),
        "rows_per_s": (rows / med("job_s"), "rows/s"),
        "cpu_s": (med("cpu_s"), "s"),
        "peak_rss_mb": (med("rss") / MIB, "MiB"),
    }


def traced_job(spark, pages_path: str, out: str, tracer):
    """run_job's calls for this flag set, in its order, one span per call.
    The build result is returned, not unpersisted, for the probes to reuse."""
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.sinks import writers

    with tracer.span("read_pages"):
        pages = spark.read.parquet(pages_path)
    with tracer.span("pipeline.build"):
        res = pipeline.build(pages)
    sinks = dict(res.sinks)
    os.makedirs(out, exist_ok=True)
    for name, df in sinks.items():
        with tracer.span(f"writers.parquet.{name}"):
            writers.write_parquet_sinks({name: df}, os.path.join(out, "sinks"))
    with tracer.span("writers.html"):
        writers.write_html_report(sinks, os.path.join(out, "report.html"), top_sections=None)
    with tracer.span("writers.json"):
        writers.write_json_report(
            sinks, os.path.join(out, "report.json"),
            metadata={"pages": pages_path, "engine": "mongo_log_parser_spark"},
            top_sections=None)
    return res


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / MIB


def probes(spark, pages_path: str, res, tracer) -> dict:
    """Isolation probes (noop writes) and row counts per layer, over the
    traced call's build result `res` and its checkpoints."""
    from pyspark.sql import functions as F

    from mongo_log_parser_spark.functions import prefilter
    from mongo_log_parser_spark.operators import route

    pages = spark.read.parquet(pages_path)
    text = F.col("text")
    with tracer.span("probe.prefilter"):
        noop(pages.select(prefilter.is_oversized(text).alias("oversized"),
                          prefilter.should_ignore(text).alias("ignore"),
                          prefilter.is_ttl_line(text).alias("ttl"),
                          prefilter.ignored_category(text).alias("category")))
    with tracer.span("probe.parse"):
        noop(route.routed_parse(pages))
    with tracer.span("probe.extract"):
        noop(route.extract_ops(res.streams["kept"]))
    for name, df in res.sinks.items():
        with tracer.span(f"probe.sink.{name}"):
            noop(df)
    with tracer.span("probe.counts"):
        routed = os.path.join(res.workdir, "routed")
        c = spark.read.parquet(routed).agg(
            F.count(F.lit(1)).alias("bounded"),
            F.sum(F.col("is_ignored").cast("long")).alias("ignored"),
            F.sum(F.col("is_ttl").cast("long")).alias("ttl"),
            F.sum((F.col("is_ignored") & ~F.col("is_ttl")).cast("long")).alias("skipped"),
        ).collect()[0]
        return {
            "total": pages.count(),
            "bounded": c["bounded"], "ignored": c["ignored"], "ttl": c["ttl"],
            "skipped": c["skipped"],
            "ops": res.streams["ops"].count(),
            "conn_side": sum(res.streams[s].count()
                             for s in ("client_metadata", "auth", "conn_lifecycle")),
            "routed_mb": dir_mb(routed),
            "ops_mb": dir_mb(os.path.join(res.workdir, "ops")),
        }


def layer_metrics(tracer, log, counts: dict) -> dict:
    """Per-layer metrics from the spans and the traced session's event log."""
    import oracle
    import spans as tr

    def jobs(*names):
        return tr.jobs_in(log, tracer.spans, set(names))

    def wall(name):
        return tracer.get(name).wall_s

    m = {"session.start_s": (wall("session"), "s")}
    j = jobs("probe.prefilter")
    m.update({
        "prefilter.wall_s": (wall("probe.prefilter"), "s"),
        "prefilter.cpu_s": (tr.total(j, "cpu_ns") / 1e9, "s"),
        "prefilter.ignored_rows": (counts["ignored"], "count"),
    })
    j = jobs("probe.parse")
    m.update({
        "parse.wall_s": (wall("probe.parse"), "s"),
        "parse.cpu_s": (tr.total(j, "cpu_ns") / 1e9, "s"),
        "parse.python_s": (tr.total(j, "python_ms") / 1e3, "s"),
        "parse.to_python_mb": (tr.total(j, "to_python_bytes") / MIB, "MiB"),
        "parse.from_python_mb": (tr.total(j, "from_python_bytes") / MIB, "MiB"),
        "parse.parsed_rows": (counts["bounded"] - counts["skipped"], "count"),
        "parse.skipped_rows": (counts["skipped"], "count"),
    })
    build = tracer.get("pipeline.build")
    j = jobs("pipeline.build")
    m.update({
        "pipeline.build_s": (build.wall_s, "s"),
        "pipeline.driver_s": (tr.idle_ms(build, j) / 1e3, "s"),
        "pipeline.jobs": (len(j), "count"),
        "pipeline.routed_mb": (counts["routed_mb"], "MiB"),
        "pipeline.ops_mb": (counts["ops_mb"], "MiB"),
        "extract.wall_s": (wall("probe.extract"), "s"),
        "extract.ops_rows": (counts["ops"], "count"),
    })
    agg_sinks = [s for s in oracle.SINK_QUERIES if s != "driver_stats"]
    for s in agg_sinks:
        m[f"aggregates.{s}.wall_s"] = (wall(f"probe.sink.{s}"), "s")
    j = jobs(*(f"probe.sink.{s}" for s in agg_sinks))
    m.update({
        "aggregates.shuffle_mb": (tr.total(j, "shuffle_bytes") / MIB, "MiB"),
        "aggregates.fetch_wait_s": (tr.total(j, "fetch_wait_ms") / 1e3, "s"),
    })
    j = jobs("probe.sink.driver_stats")
    m.update({
        "joins.driver_stats.wall_s": (wall("probe.sink.driver_stats"), "s"),
        "joins.conn_side_rows": (counts["conn_side"], "count"),
        "joins.shuffle_mb": (tr.total(j, "shuffle_bytes") / MIB, "MiB"),
    })
    writer_spans = [s for s in tracer.spans if s.name.startswith("writers.")]
    j = jobs(*(s.name for s in writer_spans))
    scans = sum(tr.scans_between(log, s.start, s.end) for s in writer_spans)
    m.update({
        "writers.parquet_s": (sum(s.wall_s for s in writer_spans
                                  if s.name.startswith("writers.parquet.")), "s"),
        "writers.html_s": (wall("writers.html"), "s"),
        "writers.json_s": (wall("writers.json"), "s"),
        "writers.jobs": (len(j), "count"),
        "writers.ckpt_scans_per_sink": (scans / len(oracle.SINK_QUERIES), "ratio"),
    })
    j = jobs("traced_job")
    m.update({
        "spark.jobs": (len(j), "count"),
        "spark.tasks": (sum(x.tasks for x in j), "count"),
        "spark.task_retries": (sum(x.retries for x in j), "count"),
        "spark.executor_cpu_s": (tr.total(j, "cpu_ns") / 1e9, "s"),
    })
    return m


def trace_run(cpus: int, run_dir: Path, pages: str, checker: Checker,
              spans_out: Path) -> dict:
    """Per-layer metrics. The reference is the untraced run_job calls recorded
    for this input and source version; with none recorded, a fresh session
    makes one. A fresh session with Spark's event log on then runs the traced
    composition as its first call, cold like the reference, then the probes
    over its build result, which run_job would unpersist at the end of the
    call. The spans are written to `spans_out` at the end. An exception in
    the traced call propagates: the run has no per-layer result.

    The traced composition must be the same work as run_job: it fails the run
    if it issues another number of Spark jobs than the reference, or if its
    spans cover the reference's median wall time by more than
    COVERAGE_TOLERANCE off."""
    import procstat
    import spans as tr

    if not checker.record.get("untraced"):
        spark = start_session(cpus, run_dir)
        try:
            timed_call(spark, pages, str(run_dir / "out-reference"), checker)
        finally:
            stop_session(spark)
    reference = checker.record.get("untraced", [])
    if not reference:
        raise RuntimeError("the untraced reference call failed its check")
    ref_s = statistics.median(u["job_s"] for u in reference)
    ref_jobs = sorted({u["jobs"] for u in reference})

    tracer = tr.Tracer(uuid.uuid4().hex[:12])
    event_log = run_dir / "eventlog"
    with tracer.span("session"):
        spark = start_session(cpus, run_dir, event_log)
    try:
        out = str(run_dir / "out-traced")
        ticks0 = procstat.host_ticks()
        with tracer.span("traced_job") as span:
            res = traced_job(spark, pages, out, tracer)
        steal = procstat.steal_share(ticks0)
        print(f"[perfbench] traced run_job: {span.wall_s:.2f} s wall, host CPU steal "
              f"{steal:.1%}", file=sys.stderr)
        checker.check(out, raised=False)
        try:
            with tracer.span("probes"):
                counts = probes(spark, pages, res, tracer)
        finally:
            res.unpersist()
    finally:
        stop_session(spark)
    spans_out.parent.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(spans_out))

    metrics = layer_metrics(tracer, tr.read_event_log(str(event_log), f"{os.sep}stage-"),
                            counts)
    covered = sum(s.wall_s for s in tracer.spans if s.parent == "traced_job")
    # both sides steal-free, like job_s
    metrics["trace.coverage"] = (steal_free(covered, steal) / ref_s, "ratio")
    metrics["trace.overhead_frac"] = (steal_free(span.wall_s, steal) / ref_s - 1.0, "ratio")
    n = counts["total"]
    shares = {"oversized": n - counts["bounded"], "ignored": counts["ignored"],
              "ttl": counts["ttl"], "kept": counts["bounded"] - counts["ignored"],
              "ops": counts["ops"]}
    print("[perfbench] route shares of %d rows: %s" % (n, ", ".join(
        f"{k} {v / n:.2%}" for k, v in shares.items())), file=sys.stderr)
    traced_jobs, coverage = metrics["spark.jobs"][0], metrics["trace.coverage"][0]
    if ref_jobs != [traced_jobs]:
        print(f"[perfbench] trace fidelity: traced run issued {traced_jobs} Spark jobs, "
              f"plain run_job {ref_jobs}", file=sys.stderr)
        checker.failed += 1
    if abs(coverage - 1.0) > COVERAGE_TOLERANCE:
        print(f"[perfbench] trace fidelity: spans cover {coverage:.3f} of the untraced "
              f"run_job ({len(reference)} calls), more than {COVERAGE_TOLERANCE:.0%} off",
              file=sys.stderr)
        checker.failed += 1
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("mongo_log_parser_spark", "verify_contracts.py"):
        if not (ROOT / need).exists():
            print(f"[perfbench] {need} not found beside {BENCH.name}/: "
                  "run from a checkout of the repository", file=sys.stderr)
            return 2
    cpus, driver_mb = host_sizing()
    run_dir = WORK / f"run-{os.getpid()}"
    configure_env(run_dir, cpus, driver_mb)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    print(f"[perfbench] host: {cpus} CPUs, driver memory {driver_mb} MiB", file=sys.stderr)
    try:
        pages, rows, checker = prepare_inputs(args.workload, args.seed, cpus)
        if args.trace:
            metrics = trace_run(cpus, run_dir, pages, checker,
                                WORK / "spans" / f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
        else:
            t0 = time.perf_counter()
            spark = start_session(cpus, run_dir)
            setup_s = time.perf_counter() - t0
            try:
                metrics = {"setup_s": (setup_s, "s")}
                metrics.update(measure(spark, pages, rows, args.seconds, run_dir, checker))
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    fail_frac = checker.failed / checker.attempted
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.6g} {unit}")
    print(f"{'fail_frac':32s} {fail_frac:14.6g} ratio ({checker.failed}/{checker.attempted})")
    print(json.dumps({
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if checker.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

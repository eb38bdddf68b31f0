"""Link-graph benchmark.

    python3 linkbench/run.py --workload web-tripled --seed 1 --seconds 10 --trace 0

Stages seeded inputs (cached per seed under linkbench/.work/cache), starts
a local[nproc] Spark session pinned to this machine, runs the workload's
warm-up jobs and then jobs back to back for --seconds (at least
MIN_JOBS), checks every job's output against the oracle, and prints the
metrics. Wall times are net of the CPU time the hypervisor stole
meanwhile; the job metrics are CPU seconds, which a neighbour holding a
CPU does not stretch (see spans.py). The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 runs the same jobs,
some traced and some not, and reports the per-layer metrics.
"""

import time

from spans import cpu_ticks

T_START = time.perf_counter()
TICKS_START = cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOAD_NAMES = ("web-tripled", "rmat-hub", "crawl-delta")
MIN_JOBS = 2  # measured jobs per run, whatever --seconds says
# no measured job after the first starts later than this after process
# start, so that a run on a heavily loaded machine still ends within 180 s
LAST_JOB_START_S = 120
# Traced runs repeat traced, untraced, untraced, traced jobs, so any
# speed-up jobs still show as the JIT warms lands on both sides evenly
TRACE_PATTERN = (True, False, False, True)

END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "edges_per_cpu_s": "edges/s",
    "peak_rss_mb": "MB",
}
LAYERS = ("session", "extraction", "graph", "pagerank", "crawl", "reporting")
PER_LAYER = {
    "session.start_s": "s",
    "extraction.s": "s",
    "extraction.hrefs": "count",
    "extraction.kept_ratio": "ratio",
    "graph.build_s": "s",
    "graph.adj_rows": "count",
    "graph.collapse_ratio": "ratio",
    "graph.salt_buckets": "count",
    "graph.tasks": "count",
    "graph.skipped_stages": "count",
    "pagerank.s": "s",
    "pagerank.iterations": "count",
    "pagerank.sweep_s.first": "s",
    "pagerank.sweep_s.p50": "s",
    "pagerank.sweep_s.max": "s",
    "pagerank.jobs": "count",
    "pagerank.tasks": "count",
    "pagerank.skipped_stages": "count",
    "pagerank.wide_stage_share": "ratio",
    "pagerank.max_abs_err": "rank",
    "crawl.merge_s": "s",
    "crawl.merge_tasks": "count",
    "crawl.rerank_s": "s",
    "crawl.rerank_iterations": "count",
    "crawl.warm_cold_ratio": "ratio",
    "reporting.s": "s",
    "reporting.tasks": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS[1:] + ("job",)},
    **{f"{layer}.self_cpu_s": "s" for layer in LAYERS[1:] + ("job",)},
    **{f"{layer}.failed_tasks": "count" for layer in LAYERS},
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}


def pin_environment(run_dir: str) -> tuple[int, dict]:
    """Machine-sized Spark settings, kept out of the package's session
    factory: local[nproc] with nproc shuffle partitions, and every scratch
    path, the warehouse included, under this run's own directory. The
    driver heap is fixed (initial size = maximum), so how far the heap grew
    before a collection does not decide peak_rss_mb: a quarter of RAM, at
    most 2g, which holds every workload's cached tables with room."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    heap_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        # one malloc arena per thread lets native memory, and so RSS, swing
        # by gigabytes from run to run with thread timing
        MALLOC_ARENA_MAX="2",
        SPARK_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    return nproc, {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }


def start_spark(run_dir: str):
    from ps_projekt_pagerank_spark.session import get_spark

    nproc, conf = pin_environment(run_dir)
    return get_spark("linkbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end its JVM (it exits when its stdin closes) and
    wait until the JVM and every Python worker it forked have exited."""
    from spans import process_tree

    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    # py4j logs every command a finalizer still sends to the closed JVM
    logging.getLogger("py4j").setLevel(logging.CRITICAL)
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run_job(wl, tr, corrupt: bool = False, warmup: bool = False):
    from workloads import Job

    tr.new_trace()
    try:
        job = wl.job(tr, corrupt=corrupt, warmup=warmup)
    except Exception:  # a job that raises is a failed job, not a dead run
        job = Job(error=traceback.format_exc(limit=3))
        print(job.error, file=sys.stderr)
    job.traced, job.trace_id = tr.enabled, tr._trace_id
    return job


def measure(
    wl, tr, seconds: float, trace: bool, corrupt_job: int | None = None,
    last_start: float = float("inf"),
):
    """prepare -> the workload's unmeasured warm-up jobs -> jobs until
    their times, net of steal, add up to ``seconds`` (at least MIN_JOBS,
    but none after the first once the clock passes ``last_start``) -> the
    workload's final check. Counting net time keeps the job count of a
    run the same whatever a neighbour's load. Returns (all gated jobs,
    measured jobs). With ``trace``, set-up is traced and measured jobs
    follow TRACE_PATTERN, at least one full round of it.
    ``corrupt_job`` (self-check only) perturbs the ranks of that measured
    job before its gate."""
    tr.enabled = trace
    gated = wl.prepare(tr)
    log("prepared")
    tr.enabled = False
    for _ in range(wl.warmup_jobs):
        warm = run_job(wl, tr, warmup=True)
        if warm.error:
            gated.append(warm)
    log("warmed up")
    measured = []
    min_jobs = len(TRACE_PATTERN) if trace else MIN_JOBS
    while len(measured) < min_jobs or sum(j.seconds for j in measured) < seconds:
        late = measured and time.perf_counter() > last_start
        if late or wl.batches_left() <= 0:
            break
        tr.enabled = trace and TRACE_PATTERN[len(measured) % len(TRACE_PATTERN)]
        measured.append(run_job(wl, tr, corrupt=corrupt_job == len(measured)))
        sweep_s = " ".join(f"{m['seconds']:.2f}" for m in measured[-1].sweeps)
        log(
            f"job {len(measured)}: {measured[-1].cpu_s:.2f} CPU s, "
            f"{measured[-1].seconds:.2f}s net of "
            f"{measured[-1].steal_share:.0%} steal, sweeps {sweep_s}"
        )
    tr.enabled = False
    gated += measured
    wl.finish(gated)
    log("finished")
    for job in gated:
        if not job.ok and not job.error.startswith("Traceback"):
            print(f"gate failed: {job.error}", file=sys.stderr)
    return gated, measured


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def end_to_end(setup_s: float, measured, peak_rss_bytes: int) -> dict:
    """Untraced end-to-end metrics over the measured jobs. Job cost is CPU
    seconds (JVM, its Python workers and the calling thread), not wall
    time: on a shared host the wall time of a parallel stage waits for
    whichever CPU a neighbour holds, and swung by half from run to run.
    edges_per_cpu_s divides the edges every sweep ranked by the CPU time of
    the whole ranking call, not of the sweeps alone: a sweep lasts under a
    second, and too few of them run to give a steady sum."""
    timed = [j for j in measured if j.seconds > 0 and not j.traced]
    return {
        "setup_s": setup_s,
        "job_cpu_s": _median(j.cpu_s for j in timed),
        "edges_per_cpu_s": sum(m["edges"] for j in timed for m in j.sweeps)
        / max(sum(j.pagerank_cpu_s for j in timed), 1e-9),
        "peak_rss_mb": peak_rss_bytes / 2**20,
    }


def per_layer(tr, gated, measured, session_s: float) -> dict:
    """Per-layer metrics: medians over the traced measured jobs of each
    span's time, counts and attributes. A call the jobs never make but the
    set-up does (build_graph on crawl-delta) is read from the set-up's
    span. Failed tasks are summed over every traced span, set-up included.
    A layer a workload never calls reads 0."""
    jobs = [j for j in measured if j.traced and j.seconds > 0]
    untraced = [j for j in measured if not j.traced and j.seconds > 0]
    traces = {j.trace_id for j in jobs}

    def named(name):
        in_jobs = [s for s in tr.spans if s.name == name and s.trace_id in traces]
        return in_jobs or [s for s in tr.spans if s.name == name and s.trace_id == 0]

    def med(name, value):
        return _median(value(s) for s in named(name))

    def layer_self(layer, self_time=tr.self_seconds):
        return _median(
            sum(self_time(s) for s in tr.spans if s.trace_id == j.trace_id and s.layer == layer)
            for j in jobs
        )

    ext = [s for s in named("extract_href_edges+encode_edges") if s.attrs]
    hrefs = sum(s.attrs["hrefs"] for s in ext)
    kept = sum(s.attrs["kept"] for s in ext)
    # inside incremental_rerank (crawl-delta) pagerank has no span of its
    # own: its time is the sweeps PageRankResult.metrics reports, and its
    # Spark counts are the re-rank's
    ranking = "pagerank" if named("pagerank") else "incremental_rerank"
    report = "top_bottom_k+total_rank" if named("top_bottom_k+total_rank") else "top_bottom_k"
    crawl = bool(named("apply_edge_delta"))
    traced_job_s = _median(j.seconds for j in jobs)
    untraced_job_s = _median(j.seconds for j in untraced)
    out = {
        "session.start_s": session_s,
        "extraction.s": _median(s.seconds for s in ext),
        "extraction.hrefs": _median(s.attrs["hrefs"] for s in ext),
        "extraction.kept_ratio": kept / hrefs if hrefs else 0.0,
        "graph.build_s": med("build_graph", lambda s: s.seconds),
        "graph.adj_rows": med("build_graph", lambda s: s.attrs["adj_rows"]),
        "graph.collapse_ratio": med(
            "build_graph", lambda s: s.attrs["adj_rows"] / s.attrs["edges"]
        ),
        "graph.salt_buckets": med("build_graph", lambda s: s.attrs["salt_buckets"]),
        "graph.tasks": med("build_graph", lambda s: s.tasks),
        "graph.skipped_stages": med("build_graph", lambda s: s.skipped_stages),
        "pagerank.s": _median(
            j.pagerank_s if ranking == "pagerank" else sum(m["seconds"] for m in j.sweeps)
            for j in jobs
        ),
        "pagerank.iterations": _median(j.iterations for j in jobs),
        "pagerank.sweep_s.first": _median(j.sweeps[0]["seconds"] for j in jobs if j.sweeps),
        "pagerank.sweep_s.p50": _median(
            _median(m["seconds"] for m in j.sweeps) for j in jobs if j.sweeps
        ),
        "pagerank.sweep_s.max": max(
            (m["seconds"] for j in jobs for m in j.sweeps), default=0.0
        ),
        "pagerank.jobs": med(ranking, lambda s: s.jobs),
        "pagerank.tasks": med(ranking, lambda s: s.tasks),
        "pagerank.skipped_stages": med(ranking, lambda s: s.skipped_stages),
        # share of the call's wall time spent in stages of two or more tasks
        "pagerank.wide_stage_share": med(ranking, lambda s: s.wide_stage_s / (s.end - s.start)),
        "pagerank.max_abs_err": max(
            (j.max_abs_err for j in gated if j.max_abs_err == j.max_abs_err),
            default=0.0,
        ),
        "crawl.merge_s": med("apply_edge_delta", lambda s: s.seconds),
        "crawl.merge_tasks": med("apply_edge_delta", lambda s: s.tasks),
        "crawl.rerank_s": med("incremental_rerank", lambda s: s.seconds),
        "crawl.rerank_iterations": _median(j.iterations for j in jobs) if crawl else 0.0,
        "crawl.warm_cold_ratio": _median(
            j.attrs["warm_cold_ratio"] for j in jobs if "warm_cold_ratio" in j.attrs
        ),
        "reporting.s": med(report, lambda s: s.seconds),
        "reporting.tasks": med(report, lambda s: s.tasks),
        **{f"{layer}.self_s": layer_self(layer) for layer in LAYERS[1:] + ("job",)},
        **{
            f"{layer}.self_cpu_s": layer_self(layer, tr.self_cpu_seconds)
            for layer in LAYERS[1:] + ("job",)
        },
        **{
            f"{layer}.failed_tasks": float(
                sum(s.failed_tasks for s in tr.spans if s.layer == layer)
            )
            for layer in LAYERS
        },
        "trace.job_s": traced_job_s,
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": traced_job_s - untraced_job_s,
    }
    return {k: float(v) for k, v in out.items()}


def report(metrics: dict, units: dict, gated, measured) -> dict:
    """Print every metric by name with its unit, then error_rate, and
    return the result object (printed last, as JSON, by main)."""
    for name, unit in units.items():
        print(f"{name:28s} {metrics[name]:.6g} {unit}")
    failed = sum(not j.ok for j in gated)
    timed = sum(j.seconds > 0 and not j.traced for j in measured)
    print(f"{'error_rate':28s} {failed / len(gated):.6g} ratio ({failed} of {len(gated)} jobs failed)")
    print(f"job_cpu_s is the median of {timed} untraced jobs")
    return {
        "correct": failed == 0,
        "attempted": len(gated),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import ps_projekt_pagerank_spark  # noqa: F401
    except ImportError as e:
        print(f"linkbench: the package to measure is not importable: {e}", file=sys.stderr)
        return 2

    from stage import SIZES, stage
    from spans import RssSampler, Tracer, steal_share
    from workloads import WORKLOADS

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    spark = None
    try:
        t = time.perf_counter()
        stage_dir = stage(os.path.join(WORK, "cache"), args.workload, "full", args.seed)
        staging_s = time.perf_counter() - t
        log(f"staged in {staging_s:.2f}s")
        t, ticks = time.perf_counter(), cpu_ticks()
        spark = start_spark(run_dir)
        session_s = (time.perf_counter() - t) * (1.0 - steal_share(ticks))
        wl = WORKLOADS[args.workload](spark, stage_dir, SIZES["full"][args.workload])
        wl.open()
        # process start to a ready session with the inputs opened, less
        # staging, net of the CPU time stolen meanwhile (see spans.Span)
        setup_s = (time.perf_counter() - T_START - staging_s) * (1.0 - steal_share(TICKS_START))
        log(f"set up in {setup_s:.2f}s")
        tr = Tracer(spark.sparkContext, enabled=False)
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            gated, measured = measure(
                wl, tr, args.seconds, bool(args.trace),
                last_start=T_START + LAST_JOB_START_S,
            )
        stop_spark(spark)
        spark = None
        if args.trace:
            tr.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
            metrics = per_layer(tr, gated, measured, session_s)
            units = PER_LAYER
        else:
            metrics = end_to_end(setup_s, measured, rss.peak)
            units = END_TO_END
            wall = _median(j.seconds for j in measured if j.seconds > 0)
            print(f"{'job_s':28s} {wall:.6g} s (wall, net of steal; not in BENCHMARK.json)")
        result = report(metrics, units, gated, measured)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # the JVM has exited and been waited for; skipping interpreter teardown
    # keeps py4j finalizers from trying to reach it
    os._exit(code)

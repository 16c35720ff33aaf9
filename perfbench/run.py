"""Closed-loop benchmark of the ionex_spark engine.

    python3 perfbench/run.py --workload tile_assign --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One client runs one Spark job at a
time on ``local[nproc]``.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload again with Spark's event log on and
prints the per-layer metrics.  Every job's output is checked.  The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 3  # set-up cycles per run; setup_s is their median
WARMUP_JOBS = 5  # untimed jobs before the first timed one, set-up included
MIN_JOBS = 3  # timed jobs per run even when --seconds has run out
TRACE_JOBS = 2  # untraced and traced jobs compared in a traced run
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stamp() -> dict:
    """nproc, load average and source revision of this result.  A checkout
    without git metadata is identified by a hash of its engine sources."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        rev = ""
    if not rev:
        import hashlib

        h = hashlib.sha256()
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "ionex_spark"))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(f.encode())
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(fh.read())
        rev = "tree:" + h.hexdigest()[:16]
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()), "rev": rev}


class Session:
    """Starts and stops SparkSessions in one JVM; the JVM is launched by the
    first start and shut down (and waited for) by ``close``."""

    def __init__(self, n: int):
        self.n = n
        self.spark = None
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(CACHE, d), exist_ok=True)

    def start(self, cores: int | None = None, eventlog: str | None = None):
        from ionex_spark.session import get_spark

        cores = cores or self.n
        tmp = os.path.join(CACHE, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            # a fixed, pre-touched heap: peak RSS then moves with off-heap
            # and Python memory, not with when G1 decides to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, tree) -> None:
        """Stop the session and the JVM, then wait until every process the
        run started (JVM, Python daemon and workers) has ended."""
        from pyspark import SparkContext

        started = tree.pids(include_root=False)
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            alive = [p for p in started + tree.pids(include_root=False)
                     if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            if time.monotonic() > deadline - 25:  # 5 s to exit on their own
                for pid in alive:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)


class Tracer:
    """Spans around calls into the engine, kept in memory.  Each call runs
    twice, first under ``<name>#warm`` and then under ``<name>``, so the
    event log can be cut by span; the faster run is the span's time."""

    def __init__(self, spark):
        self.spark, self.spans, self.mismatches = spark, [], 0

    def run(self, name: str, fn) -> float:
        times = []
        for desc in (name + "#warm", name):
            self.spark.sparkContext.setJobDescription(desc)
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
            self.spans.append({"name": desc, "start": t0 - T_START, "s": times[-1]})
        return min(times)


class Loop:
    """Closed loop over one workload: attempts, failures, per-job wall and
    CPU times, output mismatches and the checks' extra counters."""

    def __init__(self, wl, tree):
        self.wl, self.tree = wl, tree
        self.attempted = self.failed = self.mismatches = 0
        self.times, self.cpu, self.extra = [], [], []

    def one(self, spark, desc: str = "job") -> None:
        self.attempted += 1
        spark.sparkContext.setJobDescription(desc)
        c0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            result = self.wl.job(spark)
        except Exception as exc:  # a failed job is counted, never rerun
            self.failed += 1
            print(f"# job failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
            return
        self.times.append(time.perf_counter() - t0)
        self.cpu.append(self.tree.cpu_s() - c0)
        spark.sparkContext.setJobDescription("check")
        bad, extra = self.wl.check(spark, result)
        self.mismatches += bad
        self.extra.append(extra)

    def absorb(self, other: "Loop") -> None:
        """Count another loop's attempts, failures and mismatches as ours."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.mismatches += other.mismatches

    def until(self, spark, seconds: float) -> None:
        end, first = time.perf_counter() + seconds, self.attempted
        while self.attempted - first < MIN_JOBS or time.perf_counter() < end:
            self.one(spark)


def setup(sess: Session, wl, cycles: int, warmup: int,
          loop: Loop) -> tuple[list[float], float, float]:
    """Set-up: (cycle durations, input generation s, cold session start s).

    Each cycle starts a session and runs one untimed warm-up job.  The
    first cycle runs from process start and launches the JVM; later cycles
    restart the session in it.  Input generation is excluded and returned.
    Then more warm-up jobs run until ``warmup`` have run in all.  The JIT
    speeds the first few jobs up most; it goes on more slowly for minutes,
    which the run budget cannot wait out."""
    t = time.perf_counter()
    wl.prepare()
    gen = time.perf_counter() - t
    t = time.perf_counter()
    spark = sess.start()
    cold = time.perf_counter() - t
    spark.sparkContext.setJobDescription("warmup")
    wl.job(spark)
    durations = [time.perf_counter() - T_START - gen]
    for _ in range(cycles - 1):
        sess.stop()
        t = time.perf_counter()
        spark = sess.start()
        spark.sparkContext.setJobDescription("warmup")
        wl.job(spark)
        durations.append(time.perf_counter() - t)
    warm = Loop(wl, loop.tree)
    for _ in range(warmup - cycles):
        warm.one(spark, "warmup")
    loop.absorb(warm)
    return durations, gen, cold


def traced(sess: Session, wl, loop: Loop, n: int, run_id: str) -> dict:
    """Untraced and traced jobs, alternating so the JIT's progress favours
    neither, then the layer spans with the event log on; for tile_assign
    also one job on a single core."""
    from perfbench.telemetry import fold_eventlogs

    evdir = os.path.join(CACHE, "eventlog", run_id)
    shutil.rmtree(evdir, ignore_errors=True)
    plain, logged = Loop(wl, loop.tree), Loop(wl, loop.tree)
    for _ in range(TRACE_JOBS):
        for lp, ev in ((plain, None), (logged, evdir)):
            sess.stop()
            lp.one(sess.start(eventlog=ev))
    tr = Tracer(sess.spark)
    layer = wl.trace(sess.spark, tr)
    loop.mismatches += tr.mismatches
    m = {}
    if wl.name == "tile_assign":
        sess.stop()
        one = Loop(wl, loop.tree)
        one.one(sess.start(cores=1))
        loop.absorb(one)
        if one.times and plain.times:
            m["tile_assign.scaling_eff"] = one.times[0] / (
                n * statistics.median(plain.times))
    sess.stop()
    loop.absorb(plain)
    loop.absorb(logged)
    log = fold_eventlogs(evdir)
    shutil.rmtree(evdir, ignore_errors=True)

    jobs = max(1, len(logged.times))
    job = log.phase("job")
    t_job = statistics.median(logged.times) if logged.times else 0.0
    rin, rout = log.probe_rows("job")
    m.update({
        "spark.jobs": job.jobs / jobs,
        "spark.stages": job.stages / jobs,
        "spark.tasks": job.tasks / jobs,
        "spark.task_failures": sum(p.task_failures for p in log.phases.values()),
        "spark.executor_run_s": job.run_s / jobs,
        "spark.executor_cpu_s": job.cpu_s / jobs,
        "spark.gc_s": job.gc_s / jobs,
        "spark.scheduler_delay_s": job.sched_delay_s / jobs,
        "spark.spill_bytes": job.spill_bytes / jobs,
        "shuffle.write_bytes": job.shuffle_write_bytes / jobs,
        "shuffle.read_bytes": job.shuffle_read_bytes / jobs,
        "shuffle.fetch_wait_s": job.fetch_wait_s / jobs,
        "spatial.broadcast_bytes":
            log.sql_metric("job", "data size", "BroadcastExchange") / jobs,
        "spatial.rows_in": rin / jobs,
        "spatial.rows_out": rout / jobs,
        "spatial.match_ratio": rout / rin if rin else 0.0,
    })
    m.update(wl.trace_counters(log, jobs, logged.extra[-1] if logged.extra else {}))
    span_total = layer.pop("span_total_s", 0.0)
    m.update(layer)
    m["trace.overhead_ratio"] = (
        t_job / statistics.median(plain.times) if plain.times else 0.0)
    m["trace.span_coverage"] = span_total / t_job if t_job else 0.0
    with open(os.path.join(CACHE, "traces", f"{run_id}.json"), "w") as fh:
        json.dump({"spans": tr.spans, "metrics": m}, fh, indent=1)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ionex_spark", "session.py")):
        print(f"error: no ionex_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    from perfbench.telemetry import PeakRss, ProcTree
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    n = nproc()
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    tree = ProcTree()
    wl = WORKLOADS[args.workload](CACHE, args.seed, n)
    sess = Session(n)
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    loop = Loop(wl, tree)
    try:
        # a traced run reports only the cold set-up, so it sets up once;
        # it alternates untraced and traced jobs, so it warms up less
        if args.trace:
            cycles, gen, cold = setup(sess, wl, 1, WARMUP_JOBS // 2, loop)
        else:
            cycles, gen, cold = setup(sess, wl, SETUPS, WARMUP_JOBS, loop)
        if args.trace:
            metrics = traced(sess, wl, loop, n, run_id)
            metrics.update({
                "session.start_s": cold, "setup.gen_s": gen,
                "setup.cold_s": cycles[0],
            })
        else:
            with PeakRss(tree) as rss:
                loop.until(sess.spark, args.seconds)
            job_s = statistics.median(loop.times)
            metrics = {
                "setup_s": statistics.median(cycles),
                "job_s": job_s,
                "rows_per_s": wl.rows / job_s,
                "cpu_s": statistics.median(loop.cpu),
                "peak_rss_mb": rss.peak / 1e6,
            }
    finally:
        sess.close(tree)
        wl.cleanup()

    metrics["fail_share"] = loop.failed / max(1, loop.attempted)
    metrics["output_mismatches"] = loop.mismatches
    info = stamp()
    info.update({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                 "setup_cycles_s": cycles, "job_times_s": loop.times,
                 "job_cpu_s": loop.cpu})
    print("# " + json.dumps(info))
    # metric names and units come from BENCHMARK.json: end-to-end ones
    # untraced, per-layer ones traced
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    shown = units if args.trace else dict(
        units, fail_share="ratio", output_mismatches="count")
    unknown = sorted(set(metrics) - set(shown))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    for k, unit in shown.items():
        print(f"{wl.name:13s} {k:32s} {metrics.get(k, 0.0):>16.6g} {unit}")
    result = {
        "correct": loop.mismatches == 0 and loop.attempted > loop.failed,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Closed-loop benchmark of the transcript pipeline and the curation recipe.

    python3 perfbench/run.py --workload batch_uniform --seed 1 --seconds 5 --trace 0

One client runs one job at a time on local[<usable cores>]. A run generates
the workload's seeded parquet and the oracle's answers, times SETUPS set-ups
(each a fresh process starting the JVM and SparkSession; all but the last
in a child process), runs one untimed job to warm the last session up, then
runs timed jobs for --seconds, checking every job's output. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from one traced
job (see spans.py). Everything the run writes stays under .perfbench_work/
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# (name, unit, better); BENCHMARK.json lists the same metrics with their bounds
END_TO_END = (
    ("rows_per_s", "rows/s", "higher"),
    ("cpu_s_per_mrow", "s", "lower"),
    ("checkpoint_bytes_per_row", "B", "lower"),
    ("peak_mem_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
)
SETUPS = 2  # setup_s is the median of this many set-ups
CLEANER_PAUSE_S = 1.0


def host_env(work: str) -> None:
    """Size the session from the host and keep every file the JVM, the
    workers and tempfile write inside `work`. Runs before pyspark loads."""
    from procstat import mem_total_mb

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # in local mode SPARK_LOCAL_DIRS overrides spark.local.dir, so set the env
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap_mb = min(max(mem_total_mb() // 8, 1024), 2048)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    java_opts = [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
    ]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": " ".join(java_opts),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def set_up(conf: dict[str, str]):
    """One set-up: start the JVM and the program's SparkSession. Returns
    (spark, seconds)."""
    from log_analysis_ai_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    return spark, time.perf_counter() - t0


def set_up_in_child(work: str) -> float:
    """Time one set-up in a fresh child process, which stops its JVM before it exits."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--set-up-only", "--work", work],
        stdout=subprocess.PIPE,
        text=True,
        timeout=120,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


def stop_all(spark) -> None:
    """Stop the session, then the JVM, and wait until no child is left."""
    from procstat import descendants

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, wl, inp, work: str):
        self.wl, self.inp, self.work = wl, inp, work
        self.attempted = self.failed = 0
        self.n = 0

    def job(self, spark, span=None, sampler=None) -> dict:
        """One timed job and its output check; failures are counted, never retried."""
        from procstat import tree_cpu_s
        from workloads import null_span

        jvm = spark.sparkContext._jvm
        self.n += 1
        out = os.path.join(self.work, f"job{self.n}")
        self.wl.stage(self.inp, out)  # untimed
        self.attempted += 1
        rec = {"ok": False}
        # start every timed job from a collected heap, so an old-generation
        # cycle left over from set-up does not land in one job and not another;
        # the pause lets Spark's cleaner drop the broadcasts and cached blocks
        # of earlier jobs, which the collection has made unreachable
        jvm.java.lang.System.gc()
        time.sleep(CLEANER_PAUSE_S)
        cpu0 = tree_cpu_s(os.getpid())
        if sampler:
            sampler.start_job()
        t0 = time.perf_counter()
        try:
            self.wl.run(spark, self.inp, out, span or null_span)
            rec["wall_s"] = time.perf_counter() - t0
            if sampler:
                sampler.active.clear()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            if sampler:
                rec["mem_mb"], rec["mem_parts_mb"] = sampler.job_peak_mb, sampler.job_peaks
            rec["bytes"] = self.wl.output_bytes(out)
            rec["templates"] = self.wl.templates(out)
            problems = self.wl.check(self.inp, out)
            rec["ok"] = not problems
            if problems:
                print(f"job {self.n}: output differs from the oracle: {problems}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        finally:
            if sampler:
                sampler.active.clear()
        if not rec["ok"]:
            self.failed += 1
            rec.setdefault("wall_s", time.perf_counter() - t0)
        shutil.rmtree(out, ignore_errors=True)
        return rec


def set_up_only(argv) -> int:
    """Child-process mode of set_up_in_child: print {"setup_s": seconds}."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--set-up-only", action="store_true", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    host_env(args.work)
    sys.path.insert(0, ROOT)
    spark, seconds = set_up(spark_conf(args.work, None))
    stop_all(spark)
    print(json.dumps({"setup_s": seconds}))
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if "--set-up-only" in argv:
        return set_up_only(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    host_env(work)
    sys.path.insert(0, ROOT)
    import procstat
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    phases = {"start": time.perf_counter()}  # when each phase of the run ended
    inp = wl.generate(args.seed, work)  # parquet + oracle answers, untimed
    phases["generate"] = time.perf_counter()

    event_log = os.path.join(work, "eventlog") if args.trace else None
    conf = spark_conf(work, event_log)
    runner = Runner(wl, inp, work)
    jobs, spark = [], None
    try:
        setups = [set_up_in_child(os.path.join(work, f"setup{i}")) for i in range(SETUPS - 1)]
        spark, seconds = set_up(conf)
        setups.append(seconds)
        phases["set_up"] = time.perf_counter()
        wl.run(spark, inp, os.path.join(work, "warm"))  # the untimed warm-up job
        wl.prepare(spark, inp, work)
        phases["warm_up"] = time.perf_counter()
        noise0 = procstat.cpu_ticks()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if args.trace:
            app_id = spark.sparkContext.applicationId
            tracer = spans.Tracer(spark.sparkContext, jvm_pid)
            # untraced jobs on both sides of the traced one, so that
            # trace.overhead_s does not take in what is left of the warm-up
            jobs.append(runner.job(spark))
            with tracer.patched():
                jobs.append(runner.job(spark, span=tracer.span))
            jobs.append(runner.job(spark))
        else:
            with procstat.MemSampler(jvm_pid, spark.sparkContext._jvm) as sampler:
                # at least one job, then another while it should end within --seconds
                t_start = time.perf_counter()
                while not jobs or time.perf_counter() - t_start + jobs[-1]["wall_s"] <= args.seconds:
                    jobs.append(runner.job(spark, sampler=sampler))
        phases["jobs"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_all(spark)  # also flushes the event log
    phases["stop"] = time.perf_counter()
    t, phase_s = phases.pop("start"), {}
    for name, end in phases.items():
        phase_s[name], t = end - t, end

    if args.trace:
        traced = jobs[1]
        metrics = spans.span_metrics(tracer, spans.find_event_log(event_log, app_id))
        metrics["drain.distinct_line_frac"] = inp.stats.get("drain.distinct_line_frac", 0.0)
        metrics["drain.catalog_templates"] = float(traced.get("templates", 0))
        metrics["trace.overhead_s"] = traced["wall_s"] - (jobs[0]["wall_s"] + jobs[2]["wall_s"]) / 2
        self_sum = spans.self_time_sum(tracer)
        spec = spans.per_layer_spec()
        record = {"jobs": jobs, "spans": tracer.spans}
        print(f"{'per-layer metric':56s} {'value':>14s} unit")
        for name, unit, _ in spans.per_layer_spec(all_spans=True):
            print(f"{name:56s} {metrics[name]:14.4f} {unit}")
        print(
            f"span self times sum to {self_sum:.4f} s of the traced job's {traced['wall_s']:.4f} s wall "
            f"(gap {traced['wall_s'] - self_sum:.4f} s); trace.overhead_s {metrics['trace.overhead_s']:.4f}"
        )
    else:
        done = [j for j in jobs if "bytes" in j]  # jobs that ran to the end

        def med(f):
            return median(f(j) for j in done) if done else 0.0

        metrics = {
            "rows_per_s": median(inp.rows / j["wall_s"] for j in jobs),
            "cpu_s_per_mrow": med(lambda j: j["cpu_s"] / inp.rows * 1e6),
            "checkpoint_bytes_per_row": med(lambda j: j["bytes"] / inp.rows),
            "peak_mem_mb": med(lambda j: j["mem_mb"]),
            "setup_s": median(setups),
        }
        spec = END_TO_END
        record = {"jobs": jobs, "setups_s": setups}
        print(f"{args.workload} seed={args.seed} rows={inp.rows} jobs={len(jobs)}")
        for name, unit, _ in spec:
            print(f"  {name:26s} {metrics[name]:14.4f} {unit}")
        print(f"  {'failed_frac':26s} {runner.failed / runner.attempted:14.4f} ratio")
    noise = procstat.noise_stamp(noise0)
    print(f"noise: {json.dumps(noise)}")
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "metrics": metrics, "noise": noise, "phase_s": phase_s}, f, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit, _ in spec},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

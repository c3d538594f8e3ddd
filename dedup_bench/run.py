"""Benchmark entry point: one workload, one closed-loop client, one JSON result.

    python3 dedup_bench/run.py --workload image-full --seed 1 --seconds 9 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
(cached under ``dedup_bench/_work``), starts a local Spark session,
runs a cold job and ``WARM_JOBS`` warm jobs, then runs checked jobs for
``--seconds`` (at least ``MIN_TIMED``). The last line of standard output is the JSON result;
the lines before it restate each metric with its sample count.
``--trace 1`` reports the per-layer metrics instead of the end-to-end
ones. See README.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")

# Set-up runs the cold first job and then a fixed number of warm jobs, so
# every run times the same jobs of the JVM's warm-up curve (README.md
# "How a run goes"): CPU per job still falls by ~9% a job there, so a
# run that timed a later job would read lower. WARM_TOL only labels a run
# whose last two warm jobs differ by more.
WARM_JOBS = 2
WARM_TOL = 0.15
# The timed loop runs at least this many jobs, whatever --seconds is.
MIN_TIMED = 2

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

# Session settings pinned for every run (README.md "Settings").
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: the
    checkout's sources, this interpreter, one BLAS thread per worker, and
    Spark scratch and temporary files inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


class Session:
    """The Spark session under test and the JVM process tree behind it."""

    def __init__(self, cores: int, run_dir: str, event_log: str | None):
        from arhivum_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # The heap is committed and touched at JVM start, so resident
            # memory does not depend on when G1 chose to grow the heap
            # (measured bimodal: 1.9-2.1 GB or 2.4-2.7 GB peaks). Native
            # libraries and artifact dirs go to java.io.tmpdir; no
            # hsperfdata file in the system temp directory either.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(run_dir, "tmp"),
            "spark.local.dir": os.path.join(run_dir, "spark_local"),
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
        self.settings = {"cores": cores, **conf}
        self.spark = get_spark("dedup_bench", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self.proc.pid

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait until its process tree is gone."""
        from pyspark import SparkContext

        from dedup_bench import procstat

        gateway = SparkContext._gateway
        workers = procstat.tree_pids(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            # Python workers outlive the JVM briefly; wait them out
            deadline = time.monotonic() + 30
            while procstat.alive(workers) and time.monotonic() < deadline:
                time.sleep(0.1)


@dataclass
class Job:
    k: int
    wall_s: float
    cpu_s: float
    ok: bool
    traced: bool
    layers: dict[str, float] = field(default_factory=dict)


def run_job(workload, session: Session, k: int, tracer=None) -> Job:
    from dedup_bench import procstat

    if tracer is not None:
        tracer.job = k
        tracer.install()
        workload.trace_hooks(tracer)
    cpu0 = procstat.tree_cpu_s(session.jvm_pid)
    t0 = time.perf_counter()
    ok = True
    try:
        workload.run_job(session.spark, k, tracer)
    except Exception:  # a failed job is counted, and the run goes on
        ok = False
        print(f"job {k} failed:", file=sys.stderr)
        traceback.print_exc()
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s(session.jvm_pid) - cpu0
    job = Job(k, wall, cpu, ok, tracer is not None)
    if tracer is not None:
        tracer.uninstall()
        if ok:
            job.layers = workload.trace_counts(k)
    workload.cleanup(k)
    return job


def warm_up(workload, session: Session) -> list[Job]:
    """The cold job, then ``WARM_JOBS`` warm jobs."""
    return [run_job(workload, session, k) for k in range(1 + WARM_JOBS)]


def timed_jobs(workload, session: Session, first: int, seconds: float, tracer):
    """Jobs until ``seconds`` have passed and at least ``MIN_TIMED`` have
    run. With a tracer, jobs alternate untraced/traced, starting untraced."""
    jobs: list[Job] = []
    t0 = time.perf_counter()
    while len(jobs) < MIN_TIMED or time.perf_counter() - t0 < seconds:
        traced = tracer is not None and len(jobs) % 2 == 1
        jobs.append(
            run_job(workload, session, first + len(jobs), tracer if traced else None)
        )
    return jobs


def stage_layers(job: Job, spans: dict[str, float], folded: dict) -> dict[str, float]:
    """Per-stage spans and task metrics of one traced image job. A stage's
    span splits into ``compute_s`` (the ``compute`` callable plus any
    ``persist().count()`` before the write), ``write_s`` (the snapshot's
    parquet write, which also runs the lazy rest of a stage that is not
    materialized first) and ``commit_s`` (the rest: manifest, footers,
    read-back; the whole read on a resume)."""
    from dedup_bench.workloads import STAGES

    out = dict(job.layers)
    out["output.write_s"] = spans.get("output.write", 0.0)
    out["driver.read_s"] = spans.get("driver.read", 0.0)
    covered = out["output.write_s"] + out["driver.read_s"]
    for stage in STAGES:
        total = spans.get(stage, 0.0)
        compute = spans.get(f"{stage}.compute", 0.0) + spans.get(
            f"{stage}.materialize", 0.0
        )
        write = spans.get(f"{stage}.write", 0.0)
        covered += total
        out[f"{stage}.compute_s"] = compute
        out[f"{stage}.write_s"] = write
        out[f"{stage}.commit_s"] = total - compute - write
        tm: dict[str, float] = {}
        for tag, metrics in folded.items():
            if tag != f"{job.k}:{stage}" and not tag.startswith(f"{job.k}:{stage}."):
                continue
            for key, v in metrics.items():
                tm[key] = max(tm.get(key, 0.0), v) if key.startswith("peak") else tm.get(key, 0.0) + v
        # the catalogue (per_layer_units) picks the ones reported
        out.update({f"{stage}.{key}": v for key, v in tm.items()})
    out["trace.span_cover_frac"] = covered / spans["cli.run"]
    return out


def median(values) -> float:
    return float(statistics.median(values))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for old in glob.glob(os.path.join(WORK, "run-*")):
        if not os.path.exists(f"/proc/{old.rsplit('-', 1)[1]}"):
            shutil.rmtree(old, ignore_errors=True)  # left by a killed run
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args: argparse.Namespace, run_dir: str) -> int:
    pin_environment(run_dir)
    try:
        from dedup_bench import procstat, tracing
        from dedup_bench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload](os.path.join(run_dir, "jobs"), args.seed)

    t_gen = time.perf_counter()
    workload.prepare(os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t_gen

    # ---- set-up: session start and warm-up (input generation excluded)
    t_session = time.perf_counter()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    session = Session(cores, run_dir, event_log)
    session_s = time.perf_counter() - t_session
    peak = procstat.PeakRss(session.jvm_pid).start()
    try:
        t_warm = time.perf_counter()
        warm = warm_up(workload, session)
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        # ---- measurement
        tracer = tracing.Tracer(session.spark) if args.trace else None
        host0 = procstat.host_cpu()
        timed = timed_jobs(workload, session, len(warm), args.seconds, tracer)
        host = procstat.host_shares(host0, procstat.host_cpu())
    finally:
        peak_rss_mb = peak.stop()
        session.stop()

    jobs = warm + timed
    failed = sum(not j.ok for j in jobs)
    plain = [j for j in timed if not j.traced]
    job_s = median(j.wall_s for j in plain)
    cpu_s = median(j.cpu_s for j in plain)
    steady = abs(warm[-1].wall_s - warm[-2].wall_s) <= WARM_TOL * warm[-2].wall_s
    print(f"workload {workload.name} seed {args.seed} settings {json.dumps(session.settings)}")
    print(
        f"setup_s {setup_s:.3f} s (session {session_s:.2f} s + {len(warm)} warm-up jobs "
        f"{[round(j.wall_s, 2) for j in warm]}, steady={steady}; inputs {gen_s:.2f} s excluded)"
    )
    print(f"job_s {job_s:.3f} s (median of {len(plain)} jobs {[round(j.wall_s, 2) for j in plain]})")
    print(f"cpu_s {cpu_s:.3f} s (median of {len(plain)} jobs {[round(j.cpu_s, 2) for j in plain]})")
    print(f"peak_rss_mb {peak_rss_mb:.1f} MB (peak PSS of the JVM and its Python workers over the run)")
    print(f"ok_frac {(len(jobs) - failed) / len(jobs):.3f} ({len(jobs) - failed} of {len(jobs)} jobs checked ok)")
    print(f"host steal_frac {host['steal_frac']:.4f} busy_frac {host['busy_frac']:.3f}")

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": (len(jobs) - failed) / len(jobs),
        }
        metrics = {n: (values[n], unit) for n, unit in END_TO_END.items()}
    else:
        metrics = trace_metrics(
            workload, tracer, warm, timed, cores, host, session_s, warm_s,
            event_log,
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(jobs),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A
    layer the workload does not exercise reports 0."""
    from dedup_bench.kernels import STEPS
    from dedup_bench.workloads import QUERIES, STAGES

    names = ["session.start_s", "session.warm_s", "session.warm_jobs"]
    for stage in STAGES:
        names += [
            f"{stage}.{m}"
            for m in (
                "compute_s", "write_s", "commit_s", "snapshot_mb", "executor_run_s",
                "peak_exec_mem_mb", "tasks",
            )
        ]
    names += [
        "s1_signatures.rows", "s1_signatures.gc_s",
        "s1_signatures.executor_cpu_s", "s2_exact.dups",
        "s3_candidates.spark_jobs", "s3_candidates.candidates",
        "s3_candidates.verified", "s3_candidates.verify_ratio",
        "s3_candidates.shuffle_write_mb", "s3_candidates.spill_mb",
        "s3b_psnr.edges_in", "s3b_psnr.pass_ratio", "s3b_psnr.shuffle_read_mb",
        "s4_clusters.spark_jobs", "s4_clusters.components",
        "s4_clusters.shuffle_write_mb", "s5_captions.pairs", "output.write_s",
        "driver.read_s",
    ]
    names += [f"kernel.{step}_us" for step in STEPS]
    names += [f"q.{q}.s" for q in QUERIES]
    names += [
        "job.core_util", "host.steal_frac", "host.busy_frac",
        "trace.overhead_frac", "trace.span_cover_frac",
    ]
    return {n: _unit(n) for n in names}


def _unit(name: str) -> str:
    if name.endswith("_us"):
        return "us/image"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_frac", "_ratio", "core_util")):
        return "ratio"
    return "count"


def trace_metrics(workload, tracer, warm, timed, cores, host, session_s,
                  warm_s, event_log) -> dict[str, tuple[float, str]]:
    """Medians over the traced jobs of each per-layer metric, plus the
    run-level session, kernel, host and overhead figures."""
    from dedup_bench import kernels, tracing
    from dedup_bench.workloads import QUERIES

    folded = tracing.fold_event_log(tracing.event_log_file(event_log))
    traced = [j for j in timed if j.traced and j.ok]
    plain = [j for j in timed if not j.traced]
    per_job = []
    for j in traced:
        spans = tracer.job_spans(j.k)
        layers = stage_layers(j, spans, folded) if workload.name == "image-full" else {}
        for q in QUERIES:
            layers[f"q.{q}.s"] = spans.get(f"q.{q}", 0.0)
        per_job.append(layers)
    units = per_layer_units()
    values = {
        n: median(layers.get(n, 0.0) for layers in per_job) if per_job else 0.0
        for n in units
    }
    if workload.name == "image-full":
        for step, us in kernels.kernel_split(workload.images).items():
            values[f"kernel.{step}_us"] = us
    values.update(
        {
            "session.start_s": session_s,
            "session.warm_s": warm_s,
            "session.warm_jobs": float(len(warm)),
            "job.core_util": median(j.cpu_s for j in timed)
            / (cores * median(j.wall_s for j in timed)),
            "host.steal_frac": host["steal_frac"],
            "host.busy_frac": host["busy_frac"],
        }
    )
    if traced:
        values["trace.overhead_frac"] = (
            median(j.wall_s for j in traced) / median(j.wall_s for j in plain) - 1.0
        )
    return {n: (values[n], units[n]) for n in units}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Repo benchmark: closed-loop jobs through the program's public entry points.

    python3 perfbench/run.py --workload payload_mix --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from ``--seed``, starts one Spark session at
``local[<cpus>]``, runs warm-up jobs, then runs jobs back to back for
``--seconds`` and checks every job's output. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a separate
traced walk with ``--trace 1``. ``--smoke`` runs the same code at a tiny
size. See perfbench/README.md for the workloads and metrics.

Everything it writes stays in the checkout: scratch state under
``.perfbench_work/`` (removed at exit) and span files under
``.perfbench_out/``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def _env() -> int:
    """Point the driver, the Python workers, and every scratch directory at
    the checkout. Returns the number of usable CPUs."""
    cpus = len(os.sched_getaffinity(0))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    # workers are forked by the JVM with this environment; without the
    # checkout on their path they fail to import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says;
    # this covers spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    return cpus


def _start_session(cpus: int):
    from pdf_extractor_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """One benchmark run: set-up, the closed loop, and its bookkeeping."""

    def __init__(self, wl, seconds: float):
        self.wl = wl
        self.seconds = seconds
        self.samples: list[tuple[float, float, float]] = []  # (s, turns/s, out/in)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.next_job = 0

    def one_job(self, timed: bool) -> float | None:
        """Run, time and check one job; returns its wall time if correct."""
        i = self.next_job
        self.next_job += 1
        self.wl.prepare(i)
        t0 = time.perf_counter()
        try:
            out = self.wl.run(i)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            dt = None
            problems = [f"job {i} raised:\n{traceback.format_exc()}"]
        else:
            dt = time.perf_counter() - t0
            problems = self.wl.check(i, out)
        if timed:
            self.attempted += 1
            if problems:
                self.failed += 1
            elif dt is not None:
                self.samples.append(
                    (dt, out.turns / dt, out.out_bytes / self.wl.job_in_bytes)
                )
        self.problems += problems
        return None if problems else dt

    def loop(self) -> None:
        t_end = time.perf_counter() + self.seconds
        while True:
            self.one_job(timed=True)
            if time.perf_counter() >= t_end:
                break
        problems = self.wl.final_check()
        if problems:
            # the final check reads the last job's output
            if self.failed < self.attempted:
                self.failed += 1
            self.problems += problems


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    cpus = _env()
    try:
        import pyspark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from probes import RssSampler, Tracer, stop_spark

    setup = Tracer()
    with setup.span("session", "setup", "session"):
        with setup.span("setup.session", "setup", "session"):
            spark = _start_session(cpus)
        try:
            wl = WORKLOADS[args.workload](
                spark, WORK, args.seed, "smoke" if args.smoke else "full"
            )
            run = Run(wl, args.seconds)
            with setup.span("setup.corpus", "setup", "session"):
                wl.build()
            with setup.span("setup.warmup", "setup", "session"):
                for _ in range(wl.warmup_jobs - 1):
                    run.one_job(timed=False)
                # memory is sampled over the last warm-up job, so that
                # reading /proc never competes with a timed one
                with RssSampler() as rss:
                    run.one_job(timed=False)
        except BaseException:
            stop_spark(spark)
            raise
    try:
        if args.trace:
            from layers import traced_walk

            run.loop()
            metrics, spans = traced_walk(spark, wl, run, setup, t_start)
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(
                OUT, f"spans-{wl.name}-seed{args.seed}.json"
            ), "w") as f:
                json.dump(spans, f, indent=1)
        else:
            run.loop()
            rates = [s[1] for s in run.samples]
            ratios = [s[2] for s in run.samples]
            metrics = {
                "turns_per_s": _metric(statistics.median(rates) if rates else 0.0, "turns/s"),
                "setup_s": _metric(setup.duration("session"), "s"),
                "out_bytes_per_in_byte": _metric(
                    statistics.median(ratios) if ratios else 0.0, "B/B"
                ),
            }
            # printed, not gated (see README)
            peak_mb = rss.peak / 1e6
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for p in run.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    n = len(run.samples)
    print(f"# {wl.name} seed={args.seed} size={wl.size} convs={wl.n_convs} "
          f"turns_in={wl.in_rows} cpus={cpus} jobs_timed={n} "
          f"warmup_jobs={wl.warmup_jobs} digest={wl.ref_digest}")
    print("# setup s: " + ", ".join(
        f"{k} {setup.duration(f'setup.{k}'):.3f}" for k in ("session", "corpus", "warmup")
    ))
    if not args.trace:
        jt = [f"{s[0]:.3f}" for s in run.samples]
        print(f"# job wall s, in run order: {', '.join(jt)}")
    for k, v in metrics.items():
        note = f"  (median of {n} jobs)" if k == "turns_per_s" else ""
        print(f"{k} = {v['value']:.6g} {v['unit']}{note}")
    if not args.trace:
        print(f"peak_rss_mb = {peak_mb:.6g} MB")
    print(f"failed_frac = {run.failed / run.attempted:.6g} 1  "
          f"({run.failed} of {run.attempted} jobs)")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end benchmark of inxs_spark: one workload per run.

Usage, from the root of a checkout:

    python3 e2ebench/run.py --workload extract_unique --seed 1 \
        --seconds 8 --trace 0

Workloads: ``extract_unique`` and ``curate_corpus`` (the two in
BENCHMARK.json) and ``extract_templated`` (run by hand: three workloads
do not fit the benchmark's time budget; see metrics.json). ``--size``
overrides a workload's input size for runs by hand.

A run generates (or reuses from ``.bench_cache/``) the workload's seeded
input, starts a fresh Spark session at local[N] (N = usable cores − 1),
runs one cold rep and the workload's warm-up reps, then times reps for
``--seconds`` seconds, at least one. Every rep's output is checked
against serially computed truth. The JVM and every Python worker are
stopped before the run ends.

``--trace 0`` reports the end-to-end metrics (``BENCHMARK.json``
``end_to_end``); ``--trace 1`` reports the per-layer metrics
(``per_layer``), measured around calls into each layer's public
functions (see ``tracing.py``). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``python3 e2ebench/selftest.py`` shows that every output check fails on
a corrupted output.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: a run times at least this many reps, even past ``--seconds``
MIN_TIMED_REPS = 1
#: warm-up ends once a rep's CPU is within this share of the previous one
WARM_CPU_DROP = 0.05


@dataclasses.dataclass
class Rep:
    kind: str
    wall_s: float
    cpu_s: float
    peak_mb: float
    failed: int
    check_s: float


class Runner:
    """Runs and checks reps of one workload in one Spark session."""

    def __init__(self, workload, run_dir: str, sampler) -> None:
        self.workload = workload
        self.run_dir = run_dir
        self.sampler = sampler
        self.reps: list[Rep] = []

    def rep(self, spark, kind: str, around=contextlib.nullcontext) -> Rep:
        """Run, time and check one rep. ``around()`` is entered around
        the job call only (the traced mode records spans with it)."""
        from e2ebench import procstat

        out = os.path.join(self.run_dir, f"out-{len(self.reps)}")
        me = os.getpid()
        self.sampler.take_peak()
        cpu0 = procstat.tree_cpu_s(me)
        t0 = time.perf_counter()
        try:
            with around():
                self.workload.rep(spark, out)
            raised = False
        except Exception:
            traceback.print_exc()
            raised = True
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(me) - cpu0
        peak = self.sampler.take_peak()
        t1 = time.perf_counter()
        failed = self.workload.rows if raised else self.workload.check(out)
        check_s = time.perf_counter() - t1
        shutil.rmtree(out, ignore_errors=True)
        rep = Rep(kind, wall, cpu, peak, failed, check_s)
        self.reps.append(rep)
        print(f"# {kind:6s} rep {len(self.reps) - 1}: wall {wall:.3f}s "
              f"cpu {cpu:.2f}s pss {peak:.0f}MB failed {failed} "
              f"check {check_s:.2f}s", file=sys.stderr, flush=True)
        return rep

    def warm(self, spark) -> None:
        """Discard warm reps until the CPU per rep stops falling by more
        than WARM_CPU_DROP, within the workload's warm-up rep limits."""
        wl = self.workload
        cpu = [self.rep(spark, "warmup").cpu_s for _ in range(wl.warmup_min_reps)]
        while len(cpu) < wl.warmup_max_reps and (
                len(cpu) < 2 or cpu[-1] < (1 - WARM_CPU_DROP) * cpu[-2]):
            cpu.append(self.rep(spark, "warmup").cpu_s)

    def timed(self, spark, seconds: float) -> list[Rep]:
        t0 = time.perf_counter()
        timed: list[Rep] = []
        while len(timed) < MIN_TIMED_REPS or time.perf_counter() - t0 < seconds:
            timed.append(self.rep(spark, "timed"))
        return timed

    @property
    def failed(self) -> int:
        return sum(r.failed for r in self.reps)

    @property
    def attempted(self) -> int:
        return self.workload.rows * len(self.reps)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(workload, setup_s: float, timed: list[Rep]) -> dict:
    wall = statistics.median(r.wall_s for r in timed)
    return {
        "wall_s": _metric(wall, "s"),
        "rows_per_s": _metric(workload.rows / wall, "1/s"),
        "cpu_s": _metric(statistics.median(r.cpu_s for r in timed), "s"),
        "peak_rss_mb": _metric(statistics.median(r.peak_mb for r in timed), "MB"),
        "setup_s": _metric(setup_s, "s"),
    }


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "inxs_spark", "__init__.py"))


def parse_args(argv):
    from e2ebench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="e2ebench/run.py", description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="input size (turns or base documents) instead of "
                   "the workload's default; for runs by hand")
    return p.parse_args(argv)


def main(argv=None) -> int:
    # run as a script, sys.path[0] is this directory; import the
    # benchmark as a package from the checkout root instead
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if not program_present():
        print(f"e2ebench: no inxs_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    from e2ebench import procstat, session
    from e2ebench.workloads import WORKLOADS

    args = parse_args(argv)
    # a TERM (e.g. from a timeout) unwinds through the finally below,
    # which stops the JVM and every Python worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cache = os.path.join(ROOT, ".bench_cache")
    run_dir = os.path.join(cache, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(cache, "inputs"), exist_ok=True)
    session.configure_env(ROOT, run_dir)
    workload = WORKLOADS[args.workload](os.path.join(cache, "inputs"), args.seed,
                                        args.size)
    t = time.perf_counter()
    workload.prepare()
    print(f"# {workload.name}: seed {args.seed}, {workload.rows} input rows, "
          f"local[{session.parallelism()}], prepared in "
          f"{time.perf_counter() - t:.1f}s", file=sys.stderr, flush=True)

    spark = None
    try:
        with procstat.PssSampler(os.getpid()) as sampler:
            runner = Runner(workload, run_dir, sampler)
            t0 = time.perf_counter()
            spark = session.start()
            start_s = time.perf_counter() - t0
            cold = runner.rep(spark, "cold")
            setup_s = start_s + cold.wall_s
            runner.warm(spark)
            if args.trace:
                from e2ebench import tracing

                metrics = tracing.per_layer(spark, runner)
            else:
                timed = runner.timed(spark, args.seconds)
                metrics = end_to_end(workload, setup_s, timed)
            session.stop(spark)
            spark = None
    finally:
        try:
            if spark is not None:
                session.stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = runner.failed
    attempted = runner.attempted
    if args.trace:
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    else:
        print(f"# {workload.name}: medians over {len(timed)} timed reps; "
              "setup_s is one cold start")
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(f"wall_s_max {max(r.wall_s for r in timed):.6g} s")
    print(f"failed_share {failed / attempted:.6g} 1 ({failed} of {attempted} rows)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

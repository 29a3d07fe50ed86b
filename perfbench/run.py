"""Benchmark entry point: one workload, one seed, one JSON report.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, in one process with one Spark
session at ``local[<cores>]``; no other JVM or pytest may run at the
same time. Inputs are generated from ``--seed`` into a fresh temp dir
under ``.perfbench_work/`` in the current directory, together with
every warehouse, checkpoint and temp file; the dir is removed at the
end, and a later run removes those of killed runs.

Set-up (session start plus a warm-up probe job) is taken once in a
cold JVM (``session.cold_start_s``) and then ``WARM_SETUPS`` times
after stopping the session, in the JVM that is already up; ``setup_s``
is the median of those warm restarts. Each workload then runs one
pass on its inputs (see :meth:`Bench.measure`) and checks its outputs
outside the timed region.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` traces the same pass and prints its per-layer metrics
(spans and status-store counters, see spans.py and counters.py); a
metric of a layer the workload never calls reads 0.
The traced run writes its spans to ``--spans`` (default under
``.perfbench_work/spans/``).

All engine output goes to stderr; the last stdout line is the report
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only if every operation succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARM_SETUPS = 2
# Under the current directory (the checkout): a run reads and writes
# nothing outside it. Ignored by git.
WORK_DIR = ".perfbench_work"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Recorder:
    """Times operations, counts attempts and failures, and takes a span
    around each operation while ``tracer`` is set."""

    def __init__(self):
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.last = 0.0

    def op(self, name: str, layer: str, fn, *args, unit: bool = True):
        """Run ``fn(*args)`` and keep its wall in ``last``. ``unit=False``
        marks the second half of an operation already counted (a query's
        action after its build). A raised exception counts as a failure."""
        self.attempted += unit
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(name, layer):
                    out = fn(*args)
            else:
                out = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            out = None
        self.last = time.perf_counter() - t0
        return out


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", str(spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return total_kb / 1024.0


class Bench:
    """One run: session, set-up samples, measured passes, report."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rec = Recorder()
        self.spark = None
        self.setup: list[tuple[float, float, float]] = []  # (total, get_spark, warm-up)

    def path(self, *parts: str) -> str:
        """A directory under the run's work dir, created if missing."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def _start_session(self) -> None:
        from dataflow_python_etl_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def run_setup(self, warm: int = WARM_SETUPS) -> None:
        """Take 1 + ``warm`` set-ups: (re)start the session, then warm
        it up with a probe job (scan, shuffle, aggregate) in the JVM. Only
        the first launches the JVM. The Python worker pool starts in each
        workload's first pass."""
        for i in range(1 + warm):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            t1 = time.perf_counter()
            self._start_session()
            t2 = time.perf_counter()
            self.spark.range(0, 100_000).selectExpr("id % 16 AS g").groupBy("g").count().collect()
            t3 = time.perf_counter()
            self.setup.append((t3 - t0, t2 - t1, t3 - t2))
            print(f"perfbench: set-up {i}: {t3 - t0:.3f} s", file=sys.stderr)

    def measure(self, one_pass, tracer=None, max_passes=None) -> list:
        """Run ``one_pass(k)`` until --seconds are spent (at least once),
        or ``max_passes`` ran (the inputs last that long); each returns a
        dict whose ``wall`` is its timed part. With a tracer every pass is
        traced.

        A pass is longer than --seconds, so every run measures exactly
        one pass, the workload's first after set-up: a median over a
        number of passes that varies with the machine's speed would
        itself vary, as later passes run faster while the JIT warms up."""
        passes = []
        deadline = time.perf_counter() + self.args.seconds
        k = 0
        while k != max_passes and not (passes and time.perf_counter() >= deadline):
            if tracer is not None:
                tracer.pass_no = k
                tracer.install()
                self.rec.tracer = tracer
            try:
                res = one_pass(k)
            finally:
                if tracer is not None:
                    self.rec.tracer = None
                    tracer.uninstall()
            res["k"] = k
            parts = ", ".join(f"{n} {v:.3f}" for n, v in res.items()
                              if isinstance(v, float) and n != "wall")
            print(f"perfbench: pass {k}{' (traced)' if tracer else ''}: {res['wall']:.3f} s "
                  f"({parts})", file=sys.stderr)
            passes.append(res)
            k += 1
        return passes

    def common(self, passes: list, tracer) -> tuple[dict, dict]:
        """The end-to-end metrics but ``ok_share``, and the per-layer
        metrics every workload has."""
        e2e = {"setup_s": median([s[0] for s in self.setup[1:]]),
               "pass_s": median([r["wall"] for r in passes])}
        layer = {
            "session.cold_start_s": self.setup[0][0],
            "session.peak_rss_mb": peak_rss_mb(self.spark),
            "session.get_spark_s": median([s[1] for s in self.setup[1:]]),
            "session.warmup_s": median([s[2] for s in self.setup[1:]]),
        }
        if tracer is not None:
            tracer.collect_counters()
            per_pass = [defaultdict(float) for _ in passes]
            n_spans = []
            for p, r in zip(per_pass, passes):
                spans = tracer.in_pass(r["k"])
                n_spans.append(len(spans))
                for s in spans:
                    p[s.layer] += tracer.self_time(s)
            for lay in {lay for p in per_pass for lay in p}:
                layer[f"self.{lay}_s"] = median([p[lay] for p in per_pass])
            layer["trace.overhead_s"] = median(n_spans) * tracer.span_cost()
        return e2e, layer


def stop_jvm() -> None:
    """End the py4j gateway JVM (and the Python workers it forked) and
    wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def remove_stale(base: str) -> None:
    """Delete the work dirs under ``base`` of runs that were killed: their
    names start with ``<workload>-<pid>-`` and that process is gone."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        parts = name.split("-")
        if len(parts) < 3 or not parts[1].isdigit():
            continue  # not a work dir (the spans dir)
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, another user's


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    started = time.perf_counter()
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="where the traced run writes its spans (JSON lines); "
                    f"default {WORK_DIR}/spans/<workload>-seed<seed>-<pid>.jsonl")
    args = ap.parse_args(argv)

    # Everything but the report goes to stderr, including output of the
    # JVM, which inherits file descriptor 1.
    report_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import dataflow_python_etl_spark  # noqa: F401  (no engine, no report)

    import workloads

    base = os.path.join(os.getcwd(), WORK_DIR)
    remove_stale(base)
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{os.getpid()}-", dir=base)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR
    spans = args.spans or os.path.join(
        base, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
    bench = Bench(args, work)
    try:
        e2e, layer, problems, tracer = workloads.RUN[args.workload](bench)
        if tracer is not None:
            os.makedirs(os.path.dirname(os.path.abspath(spans)), exist_ok=True)
            tracer.dump(spans)
            print(f"perfbench: spans written to {spans}", file=sys.stderr)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(f"perfbench: run took {time.perf_counter() - started:.1f} s", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = layer if args.trace else e2e
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    attempted = max(bench.rec.attempted, 1)
    failed = min(bench.rec.failed + len(problems), attempted)
    e2e["ok_share"] = (attempted - failed) / attempted
    report = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    os.write(report_fd, (json.dumps(report) + "\n").encode())
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

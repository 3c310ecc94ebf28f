"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The run generates its inputs from
``--seed`` under ``.perfbench/``, sets the engine up several times
(``setup_s`` is the median), verifies every output against an oracle,
measures closed-loop passes (and, for ``stream_ingest``, an open loop)
for ``--seconds``, and prints ``name value unit`` lines followed by
one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``.  Failed or
wrong operations are counted in ``failed`` and make the exit code 1.
``--smoke`` runs every workload of ``BENCHMARK.json`` on small inputs
in both modes and checks that each metric is emitted with its unit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from tracing import NullTracer, Tracer, engine_pids, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)
SETUPS = 3
DRIVER_MEM = "4g"  # the engine's own default (48g) exceeds a 15 GB machine


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Run:
    """State of one benchmark run: its directories, the engine session,
    counters, and the metrics it reports."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, smoke: bool):
        self.workload, self.seed, self.seconds, self.trace, self.smoke = workload, seed, seconds, trace, smoke
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.work = os.path.join(OUT, "work", self.run_id)
        self.tmp = os.path.join(self.work, "tmp")
        self.cache_dir = os.path.join(OUT, "cache")
        self.results_dir = os.path.join(OUT, "results")
        self.cores = len(os.sched_getaffinity(0))
        self.setups = 1 if smoke else SETUPS
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.setups_s: list[tuple[float, float]] = []  # (session start, warm-up)
        self.tracer = Tracer(self.run_id) if trace else NullTracer()
        self.spark = None
        self.env: dict | None = None
        for d in (self.tmp, self.cache_dir, self.results_dir):
            os.makedirs(d, exist_ok=True)
        # Everything the engine, its JVM and its Python workers write stays
        # inside the checkout.
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_UI": "true" if trace else "false",
            "PYSPARK_PYTHON": sys.executable,
            # Every JVM, spark-submit's launcher included.
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        })

    def new_session(self, cpus: int | None = None):
        """(Re)build the engine session through ``session.build_session``."""
        from flink_s3_read_write_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        big = "100000"
        with self.tracer.span("session.build_session"):
            self.spark = build_session(f"perfbench-{self.workload}", cpus=cpus or self.cores, extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": self.tmp,
                "spark.ui.retainedJobs": big,
                "spark.ui.retainedStages": big,
                "spark.sql.ui.retainedExecutions": big,
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def record_setup(self, start_s: float, warmup_s: float) -> None:
        self.setups_s.append((start_s, warmup_s))
        if self.env is None:
            self.env = self.environment()

    def fail(self, msg: str, n: int = 1) -> None:
        """Count ``n`` failed operations, described by ``msg``."""
        self.failed += n
        self.errors.append(msg)
        print(f"FAIL {msg}", file=sys.stderr)

    def environment(self) -> dict:
        sc = self.spark.sparkContext
        try:
            top, _, commit = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                                            capture_output=True, text=True, timeout=10).stdout.partition("\n")
        except OSError:
            top = commit = ""
        commit = commit.strip() if os.path.realpath(top.strip() or "/nonexistent") == os.path.realpath(ROOT) else None
        h = hashlib.sha256()
        pkg = os.path.join(ROOT, "flink_s3_read_write_spark")
        for d, _, files in sorted(os.walk(pkg)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
        return {
            "nproc": self.cores,
            "default_parallelism": sc.defaultParallelism,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "spark_driver_mem": DRIVER_MEM,
            "spark": sc.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_commit": commit,
            "engine_source_sha256": h.hexdigest()[:16],
        }

    def shutdown(self) -> None:
        """Stop the session and the Spark driver JVM, and wait for the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def _workload(run: Run) -> None:
    import batch
    import stream

    if run.workload == "query_mix":
        batch.run(run, batch.MIX, batch.corpus(0.001, 0.001) if run.smoke else batch.corpus(0.005, 0.02))
    elif run.workload == "stream_ingest":
        if run.smoke:
            stream.BACKLOG_FILES, stream.BACKLOG_ROWS_PER_FILE = 4, 2_000
        stream.run(run)
    else:
        raise ValueError(f"unknown workload {run.workload!r}")


def measure(args) -> int:
    try:
        import flink_s3_read_write_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = _spec()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    # A terminated run still stops its JVM (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_run = time.time()
    try:
        _workload(run)
        run.metrics["setup_s"] = statistics.median(a + b for a, b in run.setups_s)
        run.metrics["peak_rss_mb"] = peak_rss_mb(engine_pids(run.spark))
        run.layers["session.start_s"] = statistics.median(a for a, _ in run.setups_s)
        run.layers["session.warmup_s"] = statistics.median(b for _, b in run.setups_s)
        run.notes["setups_s"] = [[round(a, 4), round(b, 4)] for a, b in run.setups_s]
    except Exception:  # noqa: BLE001 - report, count, and exit non-zero below
        traceback.print_exc()
        run.fail(f"run aborted: {traceback.format_exc(limit=3)}")
    finally:
        env = run.env or {}
        run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)

    kind = "per_layer" if run.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = (run.layers if run.trace else run.metrics).get(m["name"], 0.0 if run.trace else None)
        if v is None:
            run.fail(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v} {m['unit']}")
    print(f"env {json.dumps(env)}")
    print(f"notes {json.dumps(run.notes)}")
    ok = run.failed == 0 and not run.errors
    result = {"correct": ok, "attempted": max(1, run.attempted), "failed": run.failed, "metrics": metrics}
    base = os.path.join(run.results_dir, run.run_id)
    with open(base + ".json", "w") as fh:
        json.dump({**result, "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
                   "wall_s": time.time() - t_run, "env": env, "notes": run.notes, "errors": run.errors}, fh)
    if run.trace:
        run.tracer.dump(base + ".spans.jsonl")
    print(json.dumps(result))
    return 0 if ok else 1


def smoke() -> int:
    """Every workload, both modes, small inputs: every metric of
    BENCHMARK.json must be emitted with its unit and pass verification."""
    spec = _spec()
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"], "--seed", "1",
                   "--seconds", "2", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = p.returncode == 0 and res["correct"] and got == want
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}")
            if not ok:
                bad += 1
                print(p.stdout[-2000:], p.stderr[-4000:], sep="\n")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="without --workload: check every workload and metric on small inputs")
    args = ap.parse_args()
    if args.smoke and not args.workload:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    if args.seconds is None:
        args.seconds = _spec()["run_seconds"]
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())

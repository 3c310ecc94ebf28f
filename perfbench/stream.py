"""``stream_ingest``: the reference's three jobs as concurrent
checkpointed Structured Streaming queries over one salary-CSV source
directory, wired as the CLI's ``--streaming`` path wires them.

Two phases share the run's measuring time:

* drain passes: the three jobs drain a fixed pre-generated backlog from
  fresh checkpoints (capacity, ``pass_s``);
* an open loop: part-files are renamed into the source directory on a
  fixed schedule, at a rate below capacity, and every (file, job) pair
  is timed from the file's scheduled drop to the end of the micro-batch
  that commits it.  A file is mapped to its batch by cumulative
  ``numInputRows`` across ``StreamingQueryProgress`` events.

Sink outputs are checked against the generator: job 1 and job 2 lines
as multisets, the job-3 view against a DuckDB average over the files.
"""

from __future__ import annotations

import collections
import datetime as dt
import glob
import json
import os
import shutil
import statistics
import time
from decimal import ROUND_HALF_UP, Decimal

import gen
from tracing import NullTracer, Rest, fold_exec, pct

CITY = "Jacksonville"
BACKLOG_FILES = 8
BACKLOG_ROWS_PER_FILE = 25_000
OPEN_ROWS_PER_FILE = 2_000
OPEN_FILES_PER_S = 4.0
TIMEOUT_S = 60.0


def _write_file(path: str, rows: list[tuple], header: bool = False) -> list[str]:
    lines = ([gen.SALARY_HEADER] if header else []) + [gen.salary_line(r) for r in rows]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return lines


def _progress(q) -> list[dict]:
    """Progress events of the batches that read input."""
    return [p for p in (json.loads(e.json) for e in q.recentProgress) if p["numInputRows"]]


def _commit_times(q, targets: list[int]) -> list[float | None]:
    """End time of the batch whose cumulative input rows first reach
    each of the ascending ``targets`` (None if no batch has yet)."""
    out: list[float | None] = [None] * len(targets)
    cum, i = 0, 0
    for p in _progress(q):
        cum += p["numInputRows"]
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        while i < len(targets) and cum >= targets[i]:
            out[i] = start + p["durationMs"]["triggerExecution"] / 1e3
            i += 1
    return out


class Jobs:
    """The three reference jobs started on one source directory."""

    def __init__(self, spark, src: str, out: str):
        from flink_s3_read_write_spark.operators import raw_text
        from flink_s3_read_write_spark.sources import io
        from flink_s3_read_write_spark.streaming import jobs

        self.out = out

        def dirs(name: str) -> tuple[str, str]:
            return os.path.join(out, name), os.path.join(out, f"_checkpoint_{name}")

        self.queries = {
            "j1": io.start_text_stream_sink(jobs.uppercase_stream(spark, src), *dirs("j1"), trigger_seconds=0),
            "j2": io.start_text_stream_sink(jobs.filter_exclude_stream(spark, src, CITY), *dirs("j2"),
                                            trigger_seconds=0),
            "j3": jobs.start_materialized_view(
                raw_text.format_avg_output(jobs.avg_by_key_update_stream(spark, src, CITY)), *dirs("j3"),
                fmt="text", trigger_seconds=0),
        }

    def wait_rows(self, total: int) -> bool:
        """Wait until every job has committed ``total`` input rows."""
        deadline = time.time() + TIMEOUT_S
        while time.time() < deadline:
            if all(_commit_times(q, [total])[0] is not None for q in self.queries.values()):
                return True
            for name, q in self.queries.items():
                if q.exception() is not None:
                    raise RuntimeError(f"{name}: {q.exception()}")
            time.sleep(0.1)
        return False

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def lines(self, name: str) -> collections.Counter:
        c: collections.Counter = collections.Counter()
        for f in glob.glob(os.path.join(self.out, name, "part-*")):
            with open(f) as fh:
                c.update(fh.read().splitlines())
        return c


def _avg_line(city: str, avg: float, n: int) -> str:
    """Job 3's ``%s,%.2f,%d`` line: Java's ``%.2f`` rounds the double's
    shortest decimal form half-up."""
    return f"{city},{Decimal(repr(avg)).quantize(Decimal('0.01'), rounding=ROUND_HALF_UP)},{n}"


def _expected(ctx, lines: list[str], csv_files: list[str]) -> dict[str, collections.Counter]:
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET temp_directory='{ctx.tmp}'")
    rows = con.sql(
        "SELECT city, sum(CAST(salary AS DOUBLE)), count(*) FROM read_csv(?, header=false, "
        "columns={'id': 'VARCHAR', 'name': 'VARCHAR', 'age': 'VARCHAR', 'city': 'VARCHAR', "
        "'salary': 'VARCHAR'}) WHERE city <> ? AND city <> 'City' GROUP BY city",
        params=[csv_files, CITY]).fetchall()
    con.close()
    return {
        "j1": collections.Counter(s.upper() for s in lines),
        "j2": collections.Counter(s for s in lines if len(s.split(",")) > 3 and s.split(",")[3] != CITY),
        "j3": collections.Counter(_avg_line(city, s / n, n) for city, s, n in rows),
    }


def _verify(ctx, jobs: Jobs, expected: dict, n_files: int, what: str) -> None:
    """Compare each job's sink with ``expected``; a wrong job fails all
    of its ``n_files`` (file, job) pairs."""
    for name, exp in expected.items():
        ctx.attempted += n_files
        got = jobs.lines(name)
        if got != exp:
            diff = list((got - exp).items())[:3] + list((exp - got).items())[:3]
            ctx.fail(f"{what} {name}: {sum(got.values())} lines vs {sum(exp.values())} expected, e.g. {diff}", n_files)


def _drain(spark, tr, src: str, out: str, total: int) -> tuple[float, Jobs]:
    """Drain ``src`` with the three jobs; seconds until the last commit."""
    with tr.span("drain"):
        t0 = time.time()
        with tr.span("streaming.start"):
            jobs = Jobs(spark, src, out)
        with tr.span("streaming.wait"):
            if not jobs.wait_rows(total):
                raise RuntimeError(f"drain of {src} did not finish within {TIMEOUT_S} s")
        end = max(_commit_times(q, [total])[0] for q in jobs.queries.values())
        jobs.stop()
    return end - t0, jobs


def run(ctx) -> None:
    from flink_s3_read_write_spark.session import release_shared_builders

    backlog = os.path.join(ctx.work, "backlog")
    os.makedirs(backlog)
    lines: list[str] = []
    for f in range(BACKLOG_FILES):
        rows = gen.salary_rows(ctx.seed, f * BACKLOG_ROWS_PER_FILE, BACKLOG_ROWS_PER_FILE)
        lines += _write_file(os.path.join(backlog, f"part-{f:05d}.csv"), rows, header=f == 0)
    expected = _expected(ctx, lines, sorted(glob.glob(os.path.join(backlog, "*.csv"))))

    # Set-up, several times: session + a warm-up drain of the backlog
    # whose sink outputs are verified + release.  The first set-up also
    # launches the JVM.
    for i in range(ctx.setups):
        t0 = time.perf_counter()
        spark = ctx.new_session()
        t1 = time.perf_counter()
        _, jobs = _drain(spark, ctx.tracer, backlog, os.path.join(ctx.work, f"verify{i}"), len(lines))
        _verify(ctx, jobs, expected, BACKLOG_FILES, "drain")
        shutil.rmtree(jobs.out)
        release_shared_builders(spark)
        ctx.record_setup(t1 - t0, time.perf_counter() - t1)

    passes = []
    t_phase = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t_phase < ctx.seconds / 2:
        traced = ctx.trace and len(passes) % 2 == 1
        tr = ctx.tracer if traced else NullTracer()
        pass_s, jobs = _drain(spark, tr, backlog, os.path.join(ctx.work, f"drain{len(passes)}"), len(lines))
        passes.append({"pass_s": pass_s, "traced": traced,
                       "run_ids": {str(q.runId) for q in jobs.queries.values()}})
        shutil.rmtree(jobs.out)
    untraced = [p["pass_s"] for p in passes if not p["traced"]]
    ctx.metrics["pass_s"] = statistics.median(untraced)

    lat, late, progress = _open_loop(ctx, spark, ctx.seconds / 2)
    lat.sort()
    ctx.metrics["latency_p50_s"] = pct(lat, 0.5)
    ctx.metrics["latency_p90_s"] = pct(lat, 0.9)
    ctx.notes.update(drain_rows=len(lines), drain_pass_s=[round(p["pass_s"], 4) for p in passes],
                     drain_rows_per_s=len(lines) / statistics.median(untraced), event_latency_samples=len(lat),
                     open_loop_rows_per_s=OPEN_FILES_PER_S * OPEN_ROWS_PER_FILE)
    if ctx.trace:
        _layers(ctx, spark, passes, late, progress)
        # The reference pins setParallelism(1): one drain on one core.
        spark = ctx.new_session(cpus=1)
        pass_s, _ = _drain(spark, ctx.tracer, backlog, os.path.join(ctx.work, "drain_1core"), len(lines))
        ctx.layers["streaming.drain_1core_s"] = pass_s


def _open_loop(ctx, spark, seconds: float):
    """Drop files at ``OPEN_FILES_PER_S`` for ``seconds``; return the
    (file, job) latencies, the generator's largest lateness, and each
    job's progress events."""
    src, stage = os.path.join(ctx.work, "live"), os.path.join(ctx.work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    n_files = max(1, int(seconds * OPEN_FILES_PER_S))
    all_lines: list[str] = []
    files = []
    for k in range(n_files + 1):  # file 0 starts the three queries' first batch and is not timed
        rows = gen.salary_rows(ctx.seed, 10**9 + k * OPEN_ROWS_PER_FILE, OPEN_ROWS_PER_FILE)
        files.append(f"part-{k:05d}.csv")
        all_lines += _write_file(os.path.join(stage, files[-1]), rows)

    def drop(k: int) -> None:  # an atomic rename, so the source never lists a partial file
        os.rename(os.path.join(stage, files[k]), os.path.join(src, files[k]))

    with ctx.tracer.span("open_loop"):
        jobs = Jobs(spark, src, os.path.join(ctx.work, "live_out"))
        drop(0)
        if not jobs.wait_rows(OPEN_ROWS_PER_FILE):
            raise RuntimeError("the open loop's first file was not committed")
        t0 = time.time() + 0.2
        scheduled = [t0 + (k - 1) / OPEN_FILES_PER_S for k in range(n_files + 1)]
        late = 0.0
        for k in range(1, n_files + 1):
            time.sleep(max(0.0, scheduled[k] - time.time()))
            drop(k)
            late = max(late, time.time() - scheduled[k])
        done = jobs.wait_rows((n_files + 1) * OPEN_ROWS_PER_FILE)
        jobs.stop()

    targets = [(k + 1) * OPEN_ROWS_PER_FILE for k in range(1, n_files + 1)]
    lat: list[float] = []
    for name, q in jobs.queries.items():
        for k, end in enumerate(_commit_times(q, targets), start=1):
            if end is None:
                ctx.attempted += 1
                ctx.fail(f"open loop {name}: file {k} never committed")
            else:
                lat.append(end - scheduled[k])
    if done:
        _verify(ctx, jobs, _expected(ctx, all_lines, [os.path.join(src, f) for f in files]), n_files + 1,
                "open loop")
    return lat, late, {name: _progress(q) for name, q in jobs.queries.items()}


def _layers(ctx, spark, passes, late, progress) -> None:
    rest = Rest(spark)
    jobs = rest.get("jobs")
    stages = {s["stageId"]: s for s in rest.get("stages?status=complete")}
    traced = [p for p in passes if p["traced"]]
    per_pass = [fold_exec([j for j in jobs if j.get("jobGroup") in p["run_ids"]], stages, ctx.cores)
                for p in traced]
    for k in per_pass[0]:
        ctx.layers[k] = statistics.mean(lp[k] for lp in per_pass)
    ctx.layers["operators.raw_text.s"] = statistics.mean(p["pass_s"] for p in traced)
    ctx.layers["trace.overhead_s"] = (statistics.median(p["pass_s"] for p in traced)
                                      - statistics.median(p["pass_s"] for p in passes if not p["traced"]))

    allp = [p for ps in progress.values() for p in ps]

    def mean_s(key: str, ps: list[dict] = allp) -> float:
        return statistics.mean(p["durationMs"].get(key, 0) for p in ps) / 1e3

    ctx.layers["streaming.batches"] = len(allp)
    ctx.layers["streaming.batch_s_p50"] = statistics.median(p["durationMs"]["triggerExecution"] for p in allp) / 1e3
    ctx.layers["streaming.latest_offset_s"] = mean_s("latestOffset")
    ctx.layers["streaming.query_planning_s"] = mean_s("queryPlanning")
    ctx.layers["streaming.add_batch_s"] = mean_s("addBatch")
    ctx.layers["streaming.wal_commit_s"] = mean_s("walCommit")
    ctx.layers["streaming.commit_offsets_s"] = mean_s("commitOffsets")
    for name, ps in progress.items():
        ctx.layers[f"streaming.{name}.add_batch_s"] = mean_s("addBatch", ps)
    state = [p["stateOperators"][0] for p in progress["j3"] if p.get("stateOperators")]
    ctx.layers["streaming.state_rows"] = state[-1]["numRowsTotal"]
    ctx.layers["streaming.state_mem_bytes"] = state[-1]["memoryUsedBytes"]
    ctx.layers["streaming.state_commit_s"] = statistics.mean(s["commitTimeMs"] for s in state) / 1e3
    ctx.layers["gen.late_s_max"] = late

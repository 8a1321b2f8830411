"""Workload ``stream_changelog``: an open loop into the changelog sink.

A generator thread drops seeded slices of an events table as parquet files
into a watched directory, one every ``PERIOD_S`` seconds whatever the
engine does; a seeded share of each slice's events is held back and
arrives one to three files late.  The engine side is the file source, then
``Table.groupby(user_id).reduce(count, sum(value))``, then
``streaming.write_changelog_parquet``.  That sink always runs an
``availableNow`` trigger, so the loop restarts it whenever it has drained
what had arrived; each restart commits one micro-batch with every file that
arrived since the last.

A file's latency runs from its scheduled drop to the commit of the first
micro-batch that contains it (the mtime of the checkpoint's commit file).

The events table has the size and key space of the sf0.1 fixture table
(100,000 events of 1,500 users over 30 days), and a run replays its first
slices in order.  The key space caps the sink's snapshot at 1,500 rows, as
it is at sf0.1.  On a 4-core host a micro-batch of this pipeline took
2.6-3.6 s whether it held 150 or 20,000 events, nine tenths of it in the
sink, so the sink commits at least 20,000 events per 3 s; the drop rate,
600 events/s, is a tenth of that ceiling.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import eventlog, gen, harness, metrics, oracle
from perfbench.spans import Tracer, coverage_problems, span_coverage, write_trace

NAME = "stream_changelog"
PERIOD_S = 0.25
EVENTS_PER_FILE = 150
# rows and distinct user_id of the sf0.1 fixture's events table
EVENTS = 100_000
USERS = 1_500
LATE_SHARE = 0.1
WARMUP_FILES = 3
SINK = "pathwaydataframework_spark.streaming.write_changelog_parquet"
# a run that has not drained this long after its last drop is a failure
DRAIN_LIMIT_S = 60.0
# the oracle of the snapshot, over every delivered file
AGGREGATE_SQL = (
    "SELECT user_id, count(*) AS n, sum(value) AS total "
    "FROM read_parquet('{watch}/*.parquet') GROUP BY user_id"
)


def slices(events: pa.Table, n_files: int, seed: int) -> list[pa.Table]:
    """Cut ``events`` into ``n_files`` consecutive slices, then move a
    seeded ``LATE_SHARE`` of each slice's rows one to three files later."""
    rng = np.random.default_rng([seed, 0x1A7E])
    owner = np.repeat(np.arange(n_files), EVENTS_PER_FILE)[: events.num_rows]
    late = rng.random(owner.size) < LATE_SHARE
    owner = np.where(late, np.minimum(owner + rng.integers(1, 4, owner.size), n_files - 1), owner)
    return [events.filter(pa.array(owner == k)) for k in range(n_files)]


class Dropper(threading.Thread):
    """Writes slice ``k`` at ``start + k * period``, atomically renamed into
    ``directory`` so the file source never sees a partial file."""

    def __init__(self, directory: str, parts: list[pa.Table], period: float):
        super().__init__(daemon=True)
        self.directory, self.parts, self.period = directory, parts, period
        self.start_at = time.time() + 0.2
        self.due = [self.start_at + k * period for k in range(len(parts))]
        self.dropped: list[float] = []
        self.paths: list[str] = []

    def run(self) -> None:
        for k, part in enumerate(self.parts):
            delay = self.due[k] - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"part-{k:05d}.parquet"
            tmp = os.path.join(self.directory, f".{name}.tmp")
            pq.write_table(part, tmp)
            final = os.path.join(self.directory, name)
            os.rename(tmp, final)
            self.paths.append(final)
            self.dropped.append(time.time())


def _pipeline(spark, schema, watch: str, out: str, ckpt: str):
    import pathwaydataframework_spark as pw
    from pathwaydataframework_spark import streaming

    src = spark.readStream.schema(schema).parquet(watch)
    agg = pw.Table(src).groupby(pw.this.user_id).reduce(
        pw.this.user_id, n=pw.reducers.count(), total=pw.reducers.sum(pw.this.value)
    )
    return streaming.write_changelog_parquet(agg, out, ["user_id"], checkpoint=ckpt)


def _file_batches(ckpt: str) -> dict[str, int]:
    """File path -> batch id, from the file source's own log."""
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(src):
        if f.startswith("."):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[entry["path"].split("/")[-1]] = int(entry["batchId"])
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(f): os.stat(os.path.join(d, f)).st_mtime for f in os.listdir(d) if f.isdigit()}


def run_phase(spark, schema, base: str, parts, period: float, total_rows: int, tracer=None):
    """Drop ``parts`` on schedule and restart the sink until every row is
    committed.  Returns the phase record."""
    watch, out, ckpt = (os.path.join(base, d) for d in ("watch", "out", "ckpt"))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(watch)
    dropper = Dropper(watch, parts, period)
    progress, cycle_starts, failed_cycles = [], [], 0
    committed_rows = 0
    dropper.start()
    t_loop = time.perf_counter()
    while committed_rows < total_rows:
        if time.time() > dropper.due[-1] + DRAIN_LIMIT_S:
            failed_cycles += 1
            print(f"# {NAME}: not drained {DRAIN_LIMIT_S:.0f} s after the last drop",
                  file=sys.stderr)
            break
        cycle_starts.append(time.time())
        ctx = tracer.span("cycle", "streaming") if tracer else contextlib.nullcontext()
        with ctx:
            query = _pipeline(spark, schema, watch, out, ckpt)
            query.awaitTermination()
            if query.exception() is not None:
                failed_cycles += 1
                print(f"# {NAME}: cycle failed: {query.exception()}"[:2000], file=sys.stderr)
                continue
            batches = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
            progress += batches
            committed_rows += sum(p["numInputRows"] for p in batches)
            if not batches:
                time.sleep(0.02)
    loop_s = time.perf_counter() - t_loop
    dropper.join(timeout=DRAIN_LIMIT_S)
    return {
        "dropper": dropper, "progress": progress, "cycle_starts": cycle_starts,
        "failed_cycles": failed_cycles, "watch": watch, "out": out, "ckpt": ckpt,
        "loop_s": loop_s,
    }


def _warm_up(spark, schema, base: str, parts) -> None:
    """One micro-batch per part, so both sink paths (first batch, and a
    batch merged into an existing snapshot) run before measuring."""
    watch, out, ckpt = (os.path.join(base, d) for d in ("watch", "out", "ckpt"))
    os.makedirs(watch)
    for k, part in enumerate(parts):
        pq.write_table(part, os.path.join(watch, f"part-{k:05d}.parquet"))
        _pipeline(spark, schema, watch, out, ckpt).awaitTermination()


def phase_figures(phase) -> dict[str, float]:
    dropper = phase["dropper"]
    batch_of = _file_batches(phase["ckpt"])
    commit = _commit_times(phase["ckpt"])
    latencies, in_flight = [], []
    for k, path in enumerate(dropper.paths):
        b = batch_of.get(os.path.basename(path))
        if b is None or b not in commit:
            continue
        latencies.append(commit[b] - dropper.due[k])
        in_flight.append((dropper.dropped[k], commit[b]))
    wall = max(commit.values()) - dropper.due[0]
    rows = sum(p["numInputRows"] for p in phase["progress"])
    backlog = [sum(1 for d, c in in_flight if d <= t < c) for t in phase["cycle_starts"]]
    durations = [p.get("durationMs", {}) for p in phase["progress"]]

    def p50(key):
        vals = [d[key] for d in durations if key in d]
        return statistics.median(vals) if vals else 0.0

    state = [p.get("stateOperators") or [{}] for p in phase["progress"]]
    snapshot = pq.read_table(phase["out"]) if os.path.isdir(phase["out"]) else None
    log = pq.read_table(phase["out"] + "__log") if os.path.isdir(phase["out"] + "__log") else None
    return {
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "latency_p50_s": float(np.quantile(latencies, 0.5)),
        "latency_p80_s": float(np.quantile(latencies, 0.8)),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.state_rows": state[-1][0].get("numRowsTotal", 0) if state else 0,
        "stream.snapshot_rows": snapshot.num_rows if snapshot is not None else 0,
        "stream.log_rows": log.num_rows if log is not None else 0,
        "stream.backlog_files_max": max(backlog) if backlog else 0,
        "stream.generator_lag_s": max(d - due for d, due in zip(dropper.dropped, dropper.due)),
        "files_missing": len(dropper.paths) - len(latencies),
        "batches": len(phase["progress"]),
    }


def check_phase(phase, answer) -> list[str]:
    """Snapshot == DuckDB aggregate over the delivered events, and the
    consolidated changelog (sum of __diff__ per row) == snapshot."""
    problems = []
    snap = pq.read_table(phase["out"]).to_pandas()
    problems += oracle.check_exact(NAME, snap[["user_id", "n", "total"]], answer)
    log = pq.read_table(phase["out"] + "__log").to_pandas()
    net = log.groupby(["user_id", "n", "total"], as_index=False)["__diff__"].sum()
    net = net[net["__diff__"] != 0]
    if not (net["__diff__"] == 1).all():
        problems.append(f"{NAME}: a changelog row consolidates to a multiplicity other than 1")
    got = sorted(map(tuple, net[["user_id", "n", "total"]].itertuples(index=False)))
    want = sorted(map(tuple, snap[["user_id", "n", "total"]].itertuples(index=False)))
    if got != want:
        problems.append(f"{NAME}: consolidated changelog ({len(got)} rows) != snapshot ({len(want)} rows)")
    return problems


def run(seed: int, seconds: int, trace: bool) -> dict:
    n_files = max(2, int(round(seconds / PERIOD_S)))
    replayed = (n_files + WARMUP_FILES) * EVENTS_PER_FILE
    if replayed > EVENTS:
        raise ValueError(f"{seconds} s of drops need {replayed} events, more than {EVENTS}")
    params = {"events": EVENTS, "users": USERS}
    data_dir, digest = gen.generate_dataset(os.path.join(harness.WORK, "data"), seed, params)
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    warm = slices(events.slice(0, WARMUP_FILES * EVENTS_PER_FILE), WARMUP_FILES, seed)
    measured_events = events.slice(WARMUP_FILES * EVENTS_PER_FILE, n_files * EVENTS_PER_FILE)
    parts = slices(measured_events, n_files, seed)
    base = os.path.join(harness.WORK, "stream", f"{os.getpid()}")

    from pathwaydataframework_spark.data import load_table

    session = harness.Session(NAME)
    values: dict[str, float] = {}
    problems: list[str] = []
    attempted = failed = 0

    try:
        t0 = time.perf_counter()
        spark = session.start()
        schema = load_table(spark, data_dir, "events").df.schema
        values["session.start_s"] = time.perf_counter() - t0
        print(f"# session: {json.dumps(session.effective())}", file=sys.stderr, flush=True)

        t0 = time.perf_counter()
        _warm_up(spark, schema, os.path.join(base, "warmup"), warm)
        values["session.warmup_s"] = time.perf_counter() - t0
        values["setup_s"] = values["session.start_s"] + values["session.warmup_s"]
        print(f"# start {values['session.start_s']:.2f} s, warm-up "
              f"{values['session.warmup_s']:.1f} s", file=sys.stderr, flush=True)

        phase = run_phase(spark, schema, os.path.join(base, "measured"), parts, PERIOD_S,
                          measured_events.num_rows)
        figures = phase_figures(phase)
        attempted += figures["batches"] + phase["failed_cycles"]
        failed += phase["failed_cycles"]
        values["peak_rss_mb"] = harness.vm_hwm_mb(harness.jvm_pid(spark))
        answer = oracle.oracle_answers(
            os.path.join(harness.WORK, "oracle"), NAME, seed, digest, AGGREGATE_SQL,
            lambda: {"agg": _oracle_aggregate(phase["watch"])},
        )["agg"]
        phase_problems = check_phase(phase, answer)
        if figures["files_missing"]:
            phase_problems.append(f"{NAME}: {figures['files_missing']} files never committed")
        failed += len(phase_problems)
        problems += phase_problems
        values.update({k: v for k, v in figures.items() if k not in ("files_missing", "batches")})
        print(f"# {figures['batches']} micro-batches, {len(parts)} files, wall "
              f"{figures['wall_s']:.1f} s, trigger ms "
              f"{[p['durationMs'].get('triggerExecution') for p in phase['progress']]}",
              file=sys.stderr, flush=True)

        if trace:
            log_dir = os.path.join(harness.WORK, "eventlog", f"{NAME}-{os.getpid()}")
            session.stop()
            spark = session.start(event_log_dir=log_dir)
            tracer = Tracer(spark.sparkContext)
            tracer.wrap(SINK, "streaming")
            try:
                traced = run_phase(spark, schema, os.path.join(base, "traced"), parts,
                                   PERIOD_S, measured_events.num_rows, tracer)
            finally:
                tracer.unwrap()
            session.stop()
            t_fig = phase_figures(traced)
            attempted += t_fig["batches"] + traced["failed_cycles"]
            traced_problems = check_phase(traced, answer)
            failed += traced["failed_cycles"] + len(traced_problems)
            problems += traced_problems
            log = eventlog.parse_dir(log_dir)
            shutil.rmtree(log_dir, ignore_errors=True)
            batch_jobs = [j for j in log.jobs.values() if j.batch_id is not None]
            values["stream.jobs_per_batch"] = len(batch_jobs) / max(1, t_fig["batches"])
            values["stream.sink_bytes_written"] = sum(j.totals["output_bytes"] for j in batch_jobs)
            for key in ("jobs", "stages", "tasks"):
                n = len(log.jobs) if key == "jobs" else sum(
                    getattr(j, key) for j in log.jobs.values())
                values[f"exec.{key}"] = n
            for key in ("run_ms", "cpu_ms", "gc_ms", "deser_ms", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes", "input_bytes"):
                values[f"exec.{key}"] = sum(j.totals[key] for j in log.jobs.values())
            values["exec.cpu_util"] = values["exec.cpu_ms"] / (
                traced["loop_s"] * 1000.0 * session.cpus)
            values["trace.span_coverage"] = span_coverage(tracer.spans, traced["loop_s"])
            values["trace.overhead_s"] = t_fig["wall_s"] - figures["wall_s"]
            problems += coverage_problems(tracer.spans, traced["loop_s"])
            write_trace(
                os.path.join(harness.WORK, "traces", f"trace_{NAME}.json"),
                {"workload": NAME, "seed": seed,
                 "session": {"cores": session.cpus, "heap_mb": session.heap_mb},
                 "traced_phase": t_fig, "problems": problems,
                 "figures": dict(sorted(values.items()))},
                tracer, log)
    finally:
        session.shutdown()
        shutil.rmtree(base, ignore_errors=True)
    for p in problems:
        print(f"# problem: {p}", file=sys.stderr)
    catalogue = metrics.per_layer() if trace else metrics.END_TO_END
    return {
        "correct": not problems and failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics.report(values, catalogue),
    }


def _oracle_aggregate(watch: str):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(AGGREGATE_SQL.format(watch=watch)).df()
    finally:
        con.close()

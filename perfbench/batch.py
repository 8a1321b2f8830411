"""Workload ``headline_corpus``: a closed loop of batch queries.

One client runs the queries of ``metrics.BATCH_QUERIES`` in a fixed order,
each from the call of its ``__spark_entry__`` function to its full result
written to a ``noop`` sink.  ``q01_pricing_summary`` reads seeded
sf0.01-sized tables; the corpus queries read 120 seeded documents
replicated 10 times (``gen.replicate_texts``).
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import eventlog, gen, harness, metrics, oracle
from perfbench.spans import Tracer, coverage_problems, span_coverage, write_trace

NAME = "headline_corpus"
PARAMS = {
    "sf": 0.01, "base_docs": 120, "replicas": 10, "dup_share": 0.1,
}
QUERY_TABLES = {
    "q01_pricing_summary": ["lineitem"],
    "q_connected_components": ["documents"],
    "q_recipe": ["documents"],
}
# (rows per band, bands) of the minhash banding q_connected_components runs
MINHASH_BANDING = (4, 4)
OPS_PACKAGE = "pathwaydataframework_spark.operators"


def _query_functions() -> dict:
    import __spark_entry__ as entry

    registered = entry.queries()
    return {q: registered[q] for q in metrics.BATCH_QUERIES}


def _oracle_sql() -> dict[str, str]:
    """The exact queries' oracle twins, plus the exact near-duplicate pairs
    that ``q_connected_components`` is checked against."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    wanted = {q: sql[q] for q in metrics.BATCH_QUERIES if q != "q_connected_components"}
    wanted["pairs"] = sql["q_minhash_lsh"]
    return wanted


def _tables_used() -> list[str]:
    return sorted({t for ts in QUERY_TABLES.values() for t in ts})


def _loop(spark, fns, data_dir, seconds, tracer=None):
    """Run the queries in order until ``seconds`` have passed and each ran
    at least once.  Returns per-execution samples and the failure count."""
    samples, failures = [], 0
    order = metrics.BATCH_QUERIES
    t_start = time.perf_counter()
    i = 0
    while i < len(order) or time.perf_counter() - t_start < seconds:
        name = order[i % len(order)]
        i += 1
        span = tracer.span if tracer else (lambda *_: contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with span(name, "entry") as root:
                with span(f"{name}:call", "internals") as call:
                    df = fns[name](spark, data_dir)
                with span(f"{name}:action", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            failures += 1
            print(f"# {name} failed: {exc!r}"[:2000], flush=True, file=sys.stderr)
            continue
        finally:
            df = None
            with span("release", "bench"):
                _release(spark)
        samples.append({
            "query": name, "total_s": t2 - t0,
            "root": root.id if tracer else None, "call": call.id if tracer else None,
        })
    return samples, failures, time.perf_counter() - t_start


def _release(spark) -> None:
    """Between queries, outside the timed window: drop the Python-side
    frames, then run a JVM GC so Spark's context cleaner frees the blocks
    of their local checkpoints before the next query starts (the same guard
    bench.py applies)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _per_query_medians(samples) -> dict[str, float]:
    by = {}
    for s in samples:
        by.setdefault(s["query"], []).append(s["total_s"])
    return {q: statistics.median(v) for q, v in by.items()}


def _check_outputs(outputs, answers) -> tuple[list[str], dict[str, float], dict]:
    problems, recall, detail = [], {}, {}
    for name, got in outputs.items():
        if name == "q_connected_components":
            p, r, d = oracle.check_components(got, answers["pairs"], *MINHASH_BANDING)
            recall[name], detail[name] = r, d
        else:
            p = oracle.check_exact(name, got, answers[name])
        problems += p
    return problems, recall, detail


def _trace_figures(samples, log, tracer, cores, loop_s):
    """Per-layer figures of the traced loop, attributed through spans.
    Returns (figures, problems, per-query table, traced wall_s)."""
    spans = {s.id: s for s in tracer.spans}
    under: dict[str, list] = {sid: [] for sid in spans}
    for job in log.jobs.values():
        sid = job.span
        while sid is not None and sid in spans:
            under[sid].append(job)
            sid = spans[sid].parent

    def total(jobs, key):
        if key == "stages":
            return sum(j.stages for j in jobs)
        if key == "tasks":
            return sum(j.tasks for j in jobs)
        return sum(j.totals[key] for j in jobs)

    figures: dict[str, float] = {}
    per_query: dict[str, dict[str, list]] = {}
    for s in samples:
        jobs = under[s["root"]]
        call_jobs = under[s["call"]]
        d = per_query.setdefault(s["query"], {})
        d.setdefault("jobs", []).append(len(jobs))
        d.setdefault("build_s", []).append(
            spans[s["call"]].seconds - eventlog.busy_ms(call_jobs) / 1000.0)
        d.setdefault("build_jobs", []).append(len(call_jobs))
        d.setdefault("total_s", []).append(s["total_s"])
        for key in ("stages", "tasks", *eventlog.TASK_FIELDS):
            d.setdefault(key, []).append(total(jobs, key))
    med = {q: {k: statistics.median(v) for k, v in d.items()} for q, d in per_query.items()}
    for q, d in med.items():
        figures[f"{q}.jobs"] = d["jobs"]
    figures["plan.build_s"] = sum(d["build_s"] for d in med.values())
    figures["plan.build_jobs"] = sum(d["build_jobs"] for d in med.values())
    for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "deser_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        figures[f"exec.{key}"] = sum(d[key] for d in med.values())
    traced_wall = sum(d["total_s"] for d in med.values())
    figures["exec.cpu_util"] = figures["exec.cpu_ms"] / (traced_wall * 1000.0 * cores)
    for key, out in (("py_run_ms", "run_ms"), ("py_init_ms", "init_ms"),
                     ("py_bytes_sent", "bytes_sent"), ("py_bytes_returned", "bytes_returned")):
        figures[f"pyworker.{out}"] = sum(d[key] for d in med.values())
    for op in metrics.OPS:
        calls = [s for s in tracer.spans if s.name == op]
        if not calls:
            continue
        figures[f"op.{op}.s"] = statistics.median(s.seconds for s in calls)
        figures[f"op.{op}.jobs"] = statistics.median(len(under[s.id]) for s in calls)
        figures[f"op.{op}.cpu_ms"] = statistics.median(
            total(under[s.id], "cpu_ms") for s in calls)
    figures["trace.span_coverage"] = span_coverage(tracer.spans, loop_s)
    problems = coverage_problems(tracer.spans, loop_s)
    unattributed = sum(1 for j in log.jobs.values() if j.span is None)
    if unattributed:
        problems.append(f"{unattributed} traced jobs carry no span")
    table = {q: {k: round(v, 6) for k, v in d.items()} for q, d in med.items()}
    return figures, problems, table, traced_wall


def run(seed: int, seconds: int, trace: bool) -> dict:
    data_dir, digest = gen.generate_dataset(os.path.join(harness.WORK, "data"), seed, PARAMS)
    from pathwaydataframework_spark.data import load_table

    tables = _tables_used()
    session = harness.Session(NAME)
    values: dict[str, float] = {}
    attempted = failed = 0
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        spark = session.start()
        for t in tables:
            load_table(spark, data_dir, t).df.schema
        values["session.start_s"] = time.perf_counter() - t0
        print(f"# session: {json.dumps(session.effective())}", file=sys.stderr, flush=True)
        fns = _query_functions()
        outputs = {}
        t0 = time.perf_counter()
        warm = {}
        for name in metrics.BATCH_QUERIES:
            attempted += 1
            t_q = time.perf_counter()
            try:
                outputs[name] = fns[name](spark, data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted as a failed query
                failed += 1
                problems.append(f"{name} raised {exc!r}"[:500])
            warm[name] = round(time.perf_counter() - t_q, 2)
        _release(spark)
        # A second warm-up pass, through the measured loop itself: after
        # only the first, the next pass still ran about a quarter slower than
        # later ones while the JIT compiled, by a share that followed the
        # host's speed.
        warm_samples, warm_failures, _ = _loop(spark, fns, data_dir, 0)
        attempted += len(warm_samples) + warm_failures
        failed += warm_failures
        warm["second_pass"] = round(sum(x["total_s"] for x in warm_samples), 2)
        print(f"# warm-up per query (s): {json.dumps(warm)}", file=sys.stderr, flush=True)
        values["session.warmup_s"] = time.perf_counter() - t0
        values["setup_s"] = values["session.start_s"] + values["session.warmup_s"]
        sql = _oracle_sql()
        answers = oracle.oracle_answers(
            os.path.join(harness.WORK, "oracle"), NAME, seed, digest, sql,
            lambda: oracle.duckdb_answers(data_dir, sql),
        )
        check_problems, recall, detail = _check_outputs(outputs, answers)
        print(f"# start {values['session.start_s']:.2f} s, warm-up "
              f"{values['session.warmup_s']:.1f} s, checks done at "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)
        failed += len({p.split(":")[0] for p in check_problems})
        problems += check_problems
        for q, r in recall.items():
            values[f"lsh.recall.{q}"] = r

        samples, loop_failures, loop_s = _loop(spark, fns, data_dir, seconds)
        attempted += len(samples) + loop_failures
        failed += loop_failures
        medians = _per_query_medians(samples)
        print(f"# measured {len(samples)} queries in {loop_s:.1f} s, medians "
              f"{json.dumps({q: round(v, 3) for q, v in medians.items()})}",
              file=sys.stderr, flush=True)
        rows = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
                for t in tables}
        wall = sum(medians.values())
        values["wall_s"] = wall
        values["rows_per_s"] = sum(
            sum(rows[t] for t in QUERY_TABLES[q]) for q in medians) / wall
        # each query counts once, whatever number of samples the loop took
        values["latency_p50_s"] = float(np.quantile(list(medians.values()), 0.5))
        values["latency_p80_s"] = float(np.quantile(list(medians.values()), 0.8))
        for q, v in medians.items():
            values[f"{q}.wall_s"] = v
        values["peak_rss_mb"] = harness.vm_hwm_mb(harness.jvm_pid(spark))

        if trace:
            log_dir = os.path.join(harness.WORK, "eventlog", f"{NAME}-{os.getpid()}")
            session.stop()
            spark = session.start(event_log_dir=log_dir)
            tracer = Tracer(spark.sparkContext)
            for op in metrics.OPS:
                tracer.wrap(f"{OPS_PACKAGE}.{op}", "operators")
            try:
                t_samples, t_failures, loop_s = _loop(spark, fns, data_dir, seconds, tracer)
            finally:
                tracer.unwrap()
            attempted += len(t_samples) + t_failures
            failed += t_failures
            session.stop()
            log = eventlog.parse_dir(log_dir)
            shutil.rmtree(log_dir, ignore_errors=True)
            figures, trace_problems, table, traced_wall = _trace_figures(
                t_samples, log, tracer, session.cpus, loop_s)
            values.update(figures)
            values["trace.overhead_s"] = traced_wall - wall
            problems += trace_problems
            write_trace(
                os.path.join(harness.WORK, "traces", f"trace_{NAME}.json"),
                {"workload": NAME, "seed": seed,
                 "session": {"cores": session.cpus, "heap_mb": session.heap_mb},
                 "queries": table, "checks": detail, "problems": problems,
                 "figures": dict(sorted(values.items()))},
                tracer, log)
    finally:
        session.shutdown()
    for p in problems:
        print(f"# problem: {p}", file=sys.stderr)
    catalogue = metrics.per_layer() if trace else metrics.END_TO_END
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics.report(values, catalogue),
    }


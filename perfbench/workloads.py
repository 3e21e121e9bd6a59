"""The benchmark's workloads.

Each workload function takes a `Run` (session, seed, time budget, tracer)
and returns a `Result`: the samples behind the end-to-end metrics, the
per-layer metrics of a traced run, and the checked operations.  Set-up is
timed by the caller (`run.py`), which rebuilds the session for each
repetition through `Run.fresh_session`.

Every timed region contains only calls into the program; input generation
and output checks sit outside it.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import fixtures
import reference
from stats import median
from tracing import ProgressLog, Tracer

PKG = "real_time_iot_data_engineering_pipeline_spark"

# --- shared -----------------------------------------------------------------


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)  # one per operation
    rates: list[float] = field(default_factory=list)  # work per second, one per pass or round
    attempted: int = 0
    failures: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def fail(self, op: str, why: str) -> None:
        self.failures[op] += 1
        if len(self.notes) < 20:
            self.notes.append(f"FAILED {op}: {why[:300]}")


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def patch_load_table(tracer: Tracer) -> None:
    """Shim `load_table` everywhere it is bound: each query module imports
    it by name, so patching `sources.tables` alone would miss them."""
    from real_time_iot_data_engineering_pipeline_spark.sources import tables

    original = tables.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "sources.load_table")


def load_table_layers(tracer: Tracer, ops: int) -> dict[str, float]:
    spans = tracer.spans.get("sources.load_table", [])
    if not spans:
        return {"sources.load_table_s": 0.0, "sources.load_table_jobs": 0.0}
    jobs = sum(len(tracer.job_ids(s)) for s in spans)
    return {
        "sources.load_table_s": sum(s.seconds for s in spans) / max(ops, 1),
        "sources.load_table_jobs": jobs / len(spans),
    }


# --- batch-suite ------------------------------------------------------------

# The queries a run times: the reference dataflow's batch twins (the
# flagship 5-minute window aggregate, the validator, dedup, keyed upsert, a
# broadcast join, a rolling window, the serving read) plus a module-level
# mapInPandas UDF (q_misra_gries).  A fixed list keeps runs of different
# seeds and commits comparable.  The whole registry does not fit the run
# budget (one cold pass takes about 300 s on 4 cores), nor does the
# embedding tail (q_semantic_dedup: about 4 s cold and 2 s warm).
PANEL = (
    "q_tumbling_agg",
    "q_validate_reasons",
    "q_dedup_window",
    "q_upsert_last_write_wins",
    "q_join_broadcast",
    "q_rolling_7d",
    "q_serve_latest",
    "q_misra_gries",
)


def batch_setup(run) -> None:
    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.sources.tables import TABLES, load_table

    spark = run.fresh_session()
    registry.load_all()
    for t in TABLES:
        load_table(spark, run.data_dir, t).schema


def batch_suite(run) -> Result:
    from real_time_iot_data_engineering_pipeline_spark import registry
    from tests.oracle_utils import compare, duck_connection

    res = Result()
    spark, d = run.spark, run.data_dir
    panel = list(PANEL)
    tracer = run.tracer
    for name in panel:  # warm-up: JIT and each query's generated code
        try:
            registry.QUERIES[name](spark, d).toPandas()
        except Exception:  # counted when the timed pass runs it
            pass
    run.log("warm-up pass done")
    outputs: dict[str, list] = defaultdict(list)
    per_query: dict[str, list[float]] = defaultdict(list)
    traced_query: dict[str, list[float]] = defaultdict(list)
    traced_module: dict[str, list[float]] = defaultdict(list)
    t_end = time.perf_counter() + run.seconds
    k = 0
    # Whole passes over the panel, each in its own seeded order, until the
    # budget is spent and at least three passes ran (so the median has at
    # least ten samples beyond it).  A traced run alternates untraced and
    # traced passes, so the tracing overhead is measured on the same queries.
    while k < 3 or time.perf_counter() < t_end:
        order = list(panel)
        random.Random(run.seed * 1000 + k).shuffle(order)
        traced = tracer is not None and k % 2 == 1
        if traced:
            patch_load_table(tracer)
        pass_busy, pass_done = 0.0, 0
        for name in order:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("queries.build"):
                        df = fn(spark, d)
                    with tracer.span("queries.plan", jobs=False):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("queries.exec"):
                        pdf = df.toPandas()
                else:
                    pdf = fn(spark, d).toPandas()
            except Exception as e:  # a failing query is a counted result
                res.attempted += 1
                res.fail(name, f"{type(e).__name__}: {e}")
                continue
            el = time.perf_counter() - t0
            res.attempted += 1
            res.latencies.append(el)
            pass_busy += el
            pass_done += 1
            (traced_query if traced else per_query)[name].append(el)
            if traced:
                traced_module[fn.__module__.rsplit(".", 1)[-1]].append(el)
            outputs[name].append(pdf)
        if traced:
            tracer.unwrap_all()
        if pass_busy:
            res.rates.append(pass_done / pass_busy)
        k += 1
        run.log(f"pass {k}: {len(res.latencies)} queries timed")
    res.notes.append(f"batch: {len(panel)} queries x {k} passes")
    times = {q: per_query.get(q, []) + traced_query.get(q, []) for q in panel}
    res.notes.append("per-query median s: " + " ".join(f"{q}={median(t):.3f}" for q, t in times.items() if t))

    con = duck_connection(d)
    for name, pdfs in outputs.items():
        oracle = registry.ORACLES.get(name)
        if oracle is None:
            continue  # registered without an oracle: runs-without-error only
        want = con.execute(oracle).fetchdf()
        for pdf in pdfs:
            problems = compare(pdf, want)
            if problems:
                res.fail(name, problems[0])
    con.close()

    if tracer is not None:
        tracer.drain()
        builds, execs = tracer.spans["queries.build"], tracer.spans["queries.exec"]
        n = max(len(execs), 1)
        build_jobs = [j for s in builds for j in tracer.job_ids(s)]
        exec_jobs = [j for s in execs for j in tracer.job_ids(s)]
        tasks, shuffle = tracer.stage_totals(build_jobs + exec_jobs)
        res.layers.update(
            {
                "queries.build_s": sum(s.seconds for s in builds) / n,
                "queries.plan_s": sum(tracer.seconds("queries.plan")) / n,
                "queries.exec_s": sum(s.seconds for s in execs) / n,
                "queries.build_jobs": len(build_jobs) / n,
                "queries.jobs": (len(build_jobs) + len(exec_jobs)) / n,
                "queries.tasks": tasks / n,
                "queries.shuffle_bytes": shuffle / n,
            }
        )
        for mod, xs in traced_module.items():
            res.layers[f"queries.{mod}.s"] = median(xs)
        res.layers.update(load_table_layers(tracer, n))
        pairs = [
            median(traced_query[q]) / median(per_query[q])
            for q in traced_query
            if per_query.get(q)
        ]
        if pairs:
            res.layers["trace.overhead_ratio"] = median(pairs) - 1.0
    return res


# --- stream-serve -----------------------------------------------------------
#
# The reference dataflow end to end: one drain of seeded reading files
# through `run_topology` (main + DLQ branches), then one API client reading
# the upserted aggregate table and the events table through `ServingLayer`
# for --seconds and at least MIN_REQUESTS requests.  End-to-end metrics:
# the main branch's rows/s once warm and the median API request latency;
# micro-batch latencies are per-layer.

STREAM_FILES = 3
ROWS_PER_FILE = 1000
WARM_BATCHES = 1  # the first micro-batch pays query start-up and most JIT warm-up
MIN_REQUESTS = 21  # so the median latency has ten samples beyond it

# Requests per block of 20: sensor 40%, analytics 30%, sensors 15%,
# dashboard 10%, health 5%.
OP_MIX = (("sensor", 8), ("analytics", 6), ("sensors", 3), ("dashboard", 2), ("health", 1))
RANGES = (("2024-01-01", "2024-01-10"), ("2024-01-08", "2024-01-21"), ("2024-01-15", "2024-01-31"))
HEALTH_NOW = "2024-01-31 06:00:00"
CLOCK_STEP_S = 6.0  # virtual seconds per request: the 60 s TTL spans 10 requests


class VirtualClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def stream_setup(run) -> None:
    """Fresh session, the topology's input plan, the sink and the API."""
    from real_time_iot_data_engineering_pipeline_spark.serving import ServingLayer
    from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
    from real_time_iot_data_engineering_pipeline_spark.sources import load_table
    from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
        AGG_KEY_COLS,
        parse_event_stream,
        read_event_file_stream,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.router import validated_stream

    spark = run.fresh_session()
    src = os.path.join(run.work_dir, "setup-src")
    fixtures.write_stream(run.stream_files[:1], src)
    KeyedParquetSink(spark, os.path.join(run.work_dir, "setup-sink"), AGG_KEY_COLS)
    validated_stream(parse_event_stream(read_event_file_stream(spark, src))).schema
    ServingLayer(spark, run.data_dir)
    load_table(spark, run.data_dir, "events").schema


def _await_progress(log: ProgressLog, since: int, query: str, want: int, timeout: float = 5.0) -> None:
    """Python listeners hear progress events asynchronously; wait until the
    drained query's data batches have all arrived."""
    t_end = time.perf_counter() + timeout
    while len(log.batches(query, since)) < want and time.perf_counter() < t_end:
        time.sleep(0.05)


def _requests(seed: int, sensors: list[int]):
    """Endless request stream of (op, args) in shuffled blocks of OP_MIX,
    sensor ids Zipf-skewed over ranks.  The request shape (op order, ranks,
    ranges, filters) comes from a fixed generator, so every seed sends the
    same mix with the same cache-hit pattern; the seed decides which sensor
    holds each rank (and, through the tables, what the answers are)."""
    shape = random.Random(0)
    ranked = list(sensors)
    random.Random(seed * 31 + 5).shuffle(ranked)
    zipf = [1.0 / (i + 1) ** 1.1 for i in range(len(ranked))]
    block = [op for op, n in OP_MIX for _ in range(n)]
    while True:
        shape.shuffle(block)
        for op in block:
            if op == "sensor":
                yield op, (shape.choices(ranked, zipf)[0],)
            elif op == "analytics":
                start, end = shape.choice(RANGES)
                yield op, (shape.choices(ranked, zipf)[0], start, end, shape.choice(("daily", "hourly")))
            elif op == "sensors":
                yield op, (shape.choice((None, "click", "error")), shape.choice((None, "Working")), shape.choice((None, 20)))
            elif op == "dashboard":
                yield op, ()
            else:
                yield op, (HEALTH_NOW,)


def _epoch_s(ts) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds())


def _check_serve(ref, latest: dict, op: str, args: tuple, got) -> str | None:
    """None when the response matches the reference, else why not.
    `latest` is the reference's latest window per sensor of the table the
    dashboard reads: {user: (window_start_s, count, avg)}."""
    if op == "sensor":
        w = ref.sensor(args[0])
        g = (got["last_event_id"], got["n_readings"], got["max_value"], got["min_value"])
        if g != w[:4] or abs(got["avg_value"] - w[4]) > 1e-4:
            return f"sensor {args[0]}: got {g + (got['avg_value'],)}, want {w}"
    elif op == "analytics":
        w = ref.analytics(*args)
        g = {r["bucket"]: (r["n_readings"], r["max_value"], r["min_value"], r["avg_value"]) for r in got}
        if set(g) != set(w) or any(g[b][:3] != w[b][:3] or abs(g[b][3] - w[b][3]) > 1e-4 for b in w):
            return f"analytics {args}: {len(g)} buckets vs {len(w)}"
    elif op == "sensors":
        location, status, limit = args
        rows = sorted(
            (u, v) for u, v in ref.sensors().items()
            if (location is None or v[3] == location) and (status is None or v[4] == status)
        )
        if limit is not None:
            rows = rows[:limit]
        g = [(r["user_id"], r["last_event_id"], r["sensor_status"]) for r in got]
        w = [(u, v[1], v[4]) for u, v in rows]
        if g != w:
            return f"sensors {args}: {len(g)} rows vs {len(w)}"
    elif op == "dashboard":
        g = {r["user_id"]: (_epoch_s(r["window_start"]), r["n_readings"], r["avg_value"]) for r in got}
        if set(g) != set(latest) or any(
            g[u][:2] != latest[u][:2] or not reference.close(g[u][2], latest[u][2]) for u in latest
        ):
            return f"dashboard: {len(g)} sensors vs {len(latest)}"
    else:
        want = ref.health(dt.datetime.fromisoformat(args[0]))
        g = (got["latest_ts"], got["n_recent_24h"], got["n_faulty_24h"], got["freshness_sec"])
        if g != want:
            return f"health: got {g}, want {want}"
    return None


def _drain(run, res: Result, log: ProgressLog):
    """Drain the stream files once; None when the topology raised."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology

    files = run.stream_files
    root = os.path.join(run.work_dir, "stream")
    fixtures.write_stream(files, os.path.join(root, "src"))
    try:
        out = run_topology(run.spark, os.path.join(root, "src"), os.path.join(root, "out"))
    except Exception as e:
        res.attempted += 2
        res.fail("run_topology", f"{type(e).__name__}: {e}")
        return None
    _await_progress(log, 0, "topology-main", len(files))
    _await_progress(log, 0, "topology-dlq", len(files))
    warm = log.batches("topology-main")[WARM_BATCHES:]
    busy = sum(e.duration_ms["triggerExecution"] for e in warm) / 1000
    if busy:
        res.rates.append(sum(e.input_rows for e in warm) / busy)
    return out


def _check_drain(res: Result, files, out) -> dict:
    """Compare the drain's aggregate table and DLQ with the reference;
    returns the reference's latest window per sensor."""
    from pyspark.sql import functions as F

    want_aggs, want_dlq = reference.stream_reference(files)
    res.attempted += 2
    rows = out.aggregates.read().select(
        "user_id",
        F.unix_timestamp("window_start").alias("ws"),
        "sum_value",
        "count",
        "min_value",
        "max_value",
        "event_type",
    ).collect()
    got = {(r.user_id, r.ws): (r.sum_value, r["count"], r.min_value, r.max_value, r.event_type) for r in rows}
    problems = reference.compare_aggregates(got, want_aggs)
    if problems:
        res.fail("stream.aggregates", f"{len(problems)} keys differ, e.g. {problems[0]}")
    dlq = sorted(
        ((r.event_id, r.validation_failures, r.raw_payload) for r in out.read_dlq().collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1], t[2] or ""),
    )
    if dlq != want_dlq:
        extra = [x for x in dlq if x not in want_dlq][:2]
        missing = [x for x in want_dlq if x not in dlq][:2]
        res.fail("stream.dlq", f"{len(dlq)} rows vs {len(want_dlq)} expected; extra {extra}; missing {missing}")
    latest: dict[int, tuple] = {}
    for (u, ws), (s, c, _lo, _hi, _et) in want_aggs.items():
        if u not in latest or ws > latest[u][0]:
            latest[u] = (ws, c, s / c)
    return latest


def stream_serve(run) -> Result:
    from real_time_iot_data_engineering_pipeline_spark.serving import SensorNotFoundError, ServingLayer
    from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink

    res = Result()
    spark, tracer = run.spark, run.tracer
    log = ProgressLog()
    spark.streams.addListener(log)
    written: list[int] = []
    if tracer is not None:

        def after_upsert(_result, args, _kwargs):
            cur = args[0]._current()
            if cur is not None:
                written.append(_dir_bytes(cur)[0])

        # upserts run on the streaming thread: timed, no job group
        tracer.wrap(KeyedParquetSink, "upsert", "sinks.upsert", jobs=False, after=after_upsert)
    out = _drain(run, res, log)
    if tracer is not None:
        tracer.unwrap_all()
    mains = log.batches("topology-main")
    res.notes.append(f"stream: {len(run.stream_files)} files x {ROWS_PER_FILE} rows, first {WARM_BATCHES} batch(es) not in rows/s")
    res.notes.append("main-branch batches s: " + " ".join(f"{e.duration_ms['triggerExecution'] / 1000:.2f}" for e in mains))
    if out is None:
        return res
    latest = _check_drain(res, run.stream_files, out)

    # The API over the drained table and the events table.  It is not
    # warmed: the request shape is the same for every seed, so the few
    # first-call reads always sit at the same places in the sample.
    sink = out.aggregates
    clock = VirtualClock()
    layer = ServingLayer(spark, run.data_dir, clock=clock, aggregates=lambda: sink.read())
    ref = reference.ServingReference(run.events_rows)
    requests = _requests(run.seed, sorted(ref.by_user))
    # cache misses per (op, traced): the tracing overhead compares like with like
    misses: dict[tuple[str, bool], list[float]] = defaultdict(list)
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_REQUESTS or time.perf_counter() < t_end:
        op, args = next(requests)
        traced = tracer is not None and i % 2 == 1
        i += 1
        clock.now += CLOCK_STEP_S
        res.attempted += 1
        hits_before = sum(h for h, _m in layer.cache_stats.values())
        t0 = time.perf_counter()
        try:
            if traced:
                tracer.wrap(KeyedParquetSink, "read", "sinks.read")
                patch_load_table(tracer)
                try:
                    with tracer.span(f"serving.{op}"):
                        got = getattr(layer, op)(*args)
                finally:
                    tracer.unwrap_all()
            else:
                got = getattr(layer, op)(*args)
        except SensorNotFoundError:
            got = None
        except Exception as e:
            res.fail(op, f"{type(e).__name__}: {e}")
            continue
        el = time.perf_counter() - t0
        res.latencies.append(el)
        if sum(h for h, _m in layer.cache_stats.values()) == hits_before:
            misses[(op, traced)].append(el)
        if got is None:
            found = ref.analytics(*args) if op == "analytics" else ref.sensor(args[0]) if op == "sensor" else True
            why = f"{op} {args}: not found, but the reference has rows" if found else None
        else:
            why = _check_serve(ref, latest, op, args, got)
        if why:
            res.fail(op, why)
    res.notes.append(f"serve: {len(res.latencies)} requests; cache (hits, misses) {layer.cache_stats}")
    if tracer is not None:
        tracer.drain()
        res.layers.update(_stream_layers(tracer, log, sink, written))
        res.layers.update(_serve_layers(tracer, layer.cache_stats, misses))
    return res


def _stream_layers(tracer: Tracer, log: ProgressLog, sink, written: list[int]) -> dict[str, float]:
    out: dict[str, float] = {}
    for branch in ("main", "dlq"):
        bs = log.batches(f"topology-{branch}")
        add = [e.duration_ms.get("addBatch", 0) / 1000 for e in bs]
        over = [(e.duration_ms["triggerExecution"] - e.duration_ms.get("addBatch", 0)) / 1000 for e in bs]
        out[f"streaming.{branch}.add_batch_s"] = median(add) if add else 0.0
        out[f"streaming.{branch}.overhead_s"] = median(over) if over else 0.0
        if branch == "main" and bs:
            out["streaming.main.batch_p50_s"] = median([e.duration_ms["triggerExecution"] / 1000 for e in bs])
            out["streaming.main.state_rows"] = max(e.state_rows for e in bs)
            out["streaming.batches"] = len(bs)
    ups = tracer.seconds("sinks.upsert")
    out["sinks.upsert_s"] = median(ups) if ups else 0.0
    out["sinks.upsert_calls"] = len(ups)
    out["sinks.bytes_written"] = sum(written)
    # bytes written over the bytes of the table they produced
    final, files = _dir_bytes(sink._current())
    out["sinks.write_amplification"] = sum(written) / final if final else 0.0
    out["sinks.table_files"] = files
    return out


def _serve_layers(tracer: Tracer, cache_stats: dict, misses: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    reads = tracer.seconds("sinks.read")
    out["sinks.read_s"] = median(reads) if reads else 0.0
    for op, _n in OP_MIX:
        xs = tracer.seconds(f"serving.{op}")
        out[f"serving.{op}.p50_s"] = median(xs) if xs else 0.0
    for cache in ("sensors", "analytics"):
        hits, missed = cache_stats[cache]
        out[f"serving.{cache}_cache_hit_ratio"] = hits / (hits + missed) if hits + missed else 0.0
    spans = [s for op, _n in OP_MIX for s in tracer.spans.get(f"serving.{op}", [])]
    out["serving.jobs_per_request"] = sum(len(tracer.job_ids(s)) for s in spans) / max(len(spans), 1)
    out.update(load_table_layers(tracer, max(len(spans), 1)))
    ratios = [
        median(misses[(op, True)]) / median(misses[(op, False)])
        for op, _n in OP_MIX
        if misses[(op, True)] and misses[(op, False)]
    ]
    if ratios:
        out["trace.overhead_ratio"] = median(ratios) - 1.0
    return out


WORKLOADS = {
    "batch-suite": (batch_setup, batch_suite),
    "stream-serve": (stream_setup, stream_serve),
}

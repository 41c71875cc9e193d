"""The three workloads.

``stream_replay``: the paper's scenario. Reference Q1 over a paced,
open-loop replay (``streaming.queries.run_q1_stream``) into
``ParquetUpsertSink``, with the input rate stepping through a ladder
inside one streaming query.

``batch_sql`` and ``llm_ops``: closed loops with one client over two
mixes of registry queries, each forced through the noop sink, in an
order the seed shuffles every pass.

Each workload checks its outputs against the registry's DuckDB oracles
once per run, outside the timed region, and counts every exception,
oracle mismatch and short stream as a failed operation.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import datagen
from oracle import Oracle, mismatch
from tracing import Tracer, job_totals, patch_everywhere, read_event_log

BATCH_SQL = (
    "ref_q1_tumble",
    "ref_q1_tumble_sql",
    "ref_q2_over_range",
    "ref_q3_cnt_freq",
    "ref_q4_cell_coords",
    "ref_q5_geo_points",
    "an_a1_pricing_summary",
    "an_a2_revenue_by_nation",
    "an_a4_rollup",
    "an_a9_interval_join",
    "an_a10_sessionize",
    "an_a12_asof_join",
    "an_a23_market_share",
)
LLM_OPS = (
    "llm_d2_dedup_minhash_lsh",
    "llm_s3_ann_ivf_topk",
    "llm_t3_token_topk",
    "llm_m17_jpeg_dc",
    "llm_d7_neardup_clusters",
    "llm_t25_bpe_encode",
)
# Untimed passes before the timed window. The first pass also collects
# every result for the oracle check.
WARMUP_PASSES = 2
# A traced run times a fixed number of passes, so its counts repeat.
TRACED_PASSES = 2

# stream_replay: the reference's serving speed (TaxiRideSource.java:
# 216-219), event-time ms per wall ms. The replay adds the reference's
# 60 s bounded disorder, 100 ms of wall time at this speed.
SPEED = 600.0
# Untimed first step at the lowest rate: the first micro-batches of a
# fresh JVM take several times the steady batch time.
WARMUP_STEP_S = 8.0
# Share of --seconds given to the lowest step, where event latency is
# measured; the other steps share the rest equally.
LOW_STEP_SHARE = 0.4
# A step's backlog has not grown when, at the step's end, the stream is
# at most this many micro-batch periods behind its input. With the
# newest committed batch started up to two periods back, 2.5 allows for
# jitter; a stream that falls behind over a step exceeds it.
BACKLOG_PERIODS = 2.5
DRAIN_TIMEOUT_S = 40.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    details: list = field(default_factory=list)
    reduce_trace: object = None  # (tracer, event_log_dir) -> per-layer dict

    def note(self, name: str, value, unit: str, samples: int | None = None) -> None:
        line = {"metric": name, "value": value, "unit": unit}
        if samples is not None:
            line["samples"] = samples
        self.details.append("detail " + json.dumps(line))

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.details.append(f"failure {what}")

    def add_trace(self, tracer: Tracer, event_log: str) -> None:
        self.per_layer = self.reduce_trace(tracer, event_log)
        for name, ms in sorted(tracer.self_ms().items()):
            self.note(f"self_ms.{name}", round(ms, 3), "ms")

    def summary(self, trace: bool) -> dict:
        spec = _spec()["per_layer" if trace else "end_to_end"]
        values = self.per_layer if trace else self.end_to_end
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in spec
            },
        }


def _spec() -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return json.load(f)


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def run(args, rt, tracer: Tracer | None, t0: float) -> Result:
    spark = rt.start_spark(tracer)
    if args.workload == "stream_replay":
        res = stream_replay(args, rt, spark, tracer, t0)
    else:
        mix = BATCH_SQL if args.workload == "batch_sql" else LLM_OPS
        res = closed_loop(args, rt, spark, tracer, t0, mix)
    res.end_to_end["peak_rss_mb"] = rt.peak_rss_mb()
    res.note("peak_rss_mb", round(res.end_to_end["peak_rss_mb"], 1), "MB")
    return res


def _trace_engine(tracer: Tracer | None) -> None:
    """Route the engine's table loads and replay prep through spans."""
    if tracer is None:
        return
    from table_demo_spark.sources import batch, replay

    patch_everywhere(batch, "load_table", tracer.wrap("sources.load", batch.load_table))
    patch_everywhere(
        replay, "ensure_emit_ordered",
        tracer.wrap("sources.prep", replay.ensure_emit_ordered),
    )


# ---------------------------------------------------------------------------
# batch_sql and llm_ops: closed loop, one client.
# ---------------------------------------------------------------------------


def closed_loop(args, rt, spark, tracer, t0, mix) -> Result:
    from table_demo_spark.queries import all_queries

    res = Result()
    registry = {q.name: q for q in all_queries() if q.name in mix}
    _trace_engine(tracer)
    data = os.path.join(rt.work, "data")
    datagen.write_tables(data, args.seed)
    rng = np.random.default_rng(args.seed)

    def one(name: str, collect: bool = False):
        """Construct and run one query; returns (seconds, rows or None)."""
        res.attempted += 1
        start = time.time()
        try:
            with _span(tracer, "query"):
                with _span(tracer, "queries.build"):
                    df = registry[name].spark_fn(spark, data)
                with _span(tracer, "spark.exec"):
                    out = df.toPandas() if collect else df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query is a failed operation
            res.fail(f"{name}: {traceback.format_exc(limit=3)!r}")
            out = None
        elapsed = time.time() - start
        spark.catalog.clearCache()
        return elapsed, out

    def one_pass(collect: bool = False):
        order = [mix[i] for i in rng.permutation(len(mix))]
        start = time.time()
        lat, outs = [], {}
        for name in order:
            s, out = one(name, collect)
            lat.append(s)
            outs[name] = out
        return time.time() - start, lat, outs

    _, _, results = one_pass(collect=True)
    for _ in range(WARMUP_PASSES - 1):
        one_pass()

    setup_s = time.time() - t0
    pass_s, pass_lat = [], []
    pass_spans = []
    begin = time.time()
    while True:
        if tracer is not None:
            with tracer.span("pass") as sp:
                s, q_lat, _ = one_pass()
            pass_spans.append(sp.sid)
            done = len(pass_s) + 1 >= TRACED_PASSES
        else:
            s, q_lat, _ = one_pass()
            done = time.time() - begin >= args.seconds
        pass_s.append(s)
        pass_lat.append([x * 1000 for x in q_lat])
        if done:
            break

    # correctness, outside the timed region
    oracle = Oracle(data)
    try:
        for name in mix:
            if results.get(name) is None:
                continue  # already counted as failed
            res.attempted += 1
            why = mismatch(results[name], oracle.query(registry[name].oracle))
            if why is not None:
                res.fail(f"{name} oracle mismatch: {why}")
    finally:
        oracle.close()

    # Each figure is the median over the timed passes of that pass's
    # figure, so one pass slowed by a burst of load does not move it.
    n_lat = sum(len(x) for x in pass_lat)
    e2e = res.end_to_end
    e2e["setup_s"] = setup_s
    e2e["latency_p50_ms"] = float(np.median([_pct(x, 50) for x in pass_lat]))
    e2e["latency_tail_ms"] = float(np.median([_pct(x, 90) for x in pass_lat]))
    e2e["throughput_per_s"] = len(mix) / float(np.median(pass_s))
    res.note("setup_s", round(setup_s, 3), "s")
    res.note("query_latency_p50_ms", round(e2e["latency_p50_ms"], 3), "ms", n_lat)
    res.note("query_latency_p90_ms", round(e2e["latency_tail_ms"], 3), "ms", n_lat)
    res.note("queries_per_s", round(e2e["throughput_per_s"], 4), "1/s", n_lat)
    res.note("pass_s", round(float(np.median(pass_s)), 3), "s", len(pass_s))

    def reduce_trace(tr: Tracer, log_dir: str) -> dict:
        return _closed_loop_layers(tr, log_dir, pass_spans)

    res.reduce_trace = reduce_trace
    return res


def _descendants(tracer: Tracer, roots: list[int]) -> list:
    keep = set(roots)
    out = []
    for s in tracer.spans:  # parents precede children
        if s.parent in keep:
            keep.add(s.sid)
            out.append(s)
    return out


def _closed_loop_layers(tracer: Tracer, log_dir: str, pass_spans: list[int]) -> dict:
    jobs, stages = read_event_log(log_dir)
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    timed = _descendants(tracer, pass_spans)
    n = len(pass_spans)

    def spans(name):
        return [s for s in timed if s.name == name]

    def jobs_of(ss):
        return [j for s in ss for j in by_group.get(f"span-{s.sid}", [])]

    def ms(ss):
        return sum((s.end - s.start) * 1000 for s in ss)

    loads, builds, execs, queries = (
        spans("sources.load"), spans("queries.build"), spans("spark.exec"), spans("query"),
    )
    every = jobs_of(timed)
    tot = job_totals(every, stages)
    gap_ms = 0.0
    for q in queries:
        inner = [q] + _descendants(tracer, [q.sid])
        gap_ms += (q.end - q.start) * 1000 - job_totals(jobs_of(inner), stages)["busy_ms"]
    session = [s for s in tracer.spans if s.name == "session.start"]
    out = {
        "session.start_ms": ms(session),
        "sources.load_ms": ms(loads) / n,
        "sources.load_jobs": len(jobs_of(loads)) / n,
        "sources.prep_ms": 0.0,
        "sources.replay_backlog_rows": 0.0,
        "queries.build_ms": (ms(builds) - ms(loads)) / n,
        "queries.build_jobs": len(jobs_of(builds)) / n,
        "spark.exec_ms": ms(execs) / n,
        "spark.driver_gap_ms": gap_ms / n,
    }
    out.update(_spark_layers(tot, n))
    out.update({k: 0.0 for k in _STREAM_LAYERS})
    return out


def _spark_layers(tot: dict, n: float) -> dict:
    n = max(n, 1)
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.task_run_ms": tot["task_run_ms"] / n,
        "spark.jvm_cpu_ms": tot["jvm_cpu_ms"] / n,
        "spark.shuffle_bytes": tot["shuffle_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "operators.python_ms": tot["python_ms"] / n,
        "operators.arrow_bytes_to_python": tot["to_python"] / n,
        "operators.arrow_bytes_from_python": tot["from_python"] / n,
    }


_STREAM_LAYERS = (
    "streaming.batches",
    "streaming.rows_per_batch",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.latest_offset_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.sink_ms",
    "streaming.jobs_per_batch",
    "streaming.state_rows",
)


# ---------------------------------------------------------------------------
# stream_replay: open loop, paced replay through a rate ladder.
# ---------------------------------------------------------------------------


class TimedSink:
    """Wraps the engine's sink; records when each micro-batch's write
    returned (the result time of its events)."""

    def __init__(self, inner, tracer: Tracer | None):
        self.inner = inner
        self.tracer = tracer
        self.returned: dict[int, float] = {}

    def foreach_batch(self):
        def apply(df, batch_id: int) -> None:
            with _span(self.tracer, "streaming.sink"):
                self.inner.apply_batch(df, batch_id)
            self.returned[batch_id] = time.time()

        return apply


def _offset_log(ckpt: str) -> tuple[dict[int, int], int]:
    """(batch id -> end offset of every planned batch, committed end
    offset) from the checkpoint's offset and commit logs."""
    ends: dict[int, int] = {}
    odir = os.path.join(ckpt, "offsets")
    for name in os.listdir(odir) if os.path.isdir(odir) else []:
        if name.isdigit():
            with open(os.path.join(odir, name)) as f:
                lines = f.read().splitlines()
            ends[int(name)] = int(json.loads(lines[2])["idx"])
    cdir = os.path.join(ckpt, "commits")
    done = [int(n) for n in os.listdir(cdir) if n.isdigit()] if os.path.isdir(cdir) else []
    committed = ends.get(max(done), 0) if done else 0
    return ends, committed


def _ts_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _idx(offset) -> int:
    return int((json.loads(offset) if isinstance(offset, str) else offset)["idx"])


def _wall_start(progress: list[dict], emit: np.ndarray, n: int) -> float:
    """Wall time the replay reader started its pacing clock.

    The reader serves row i at ``start + (emit[i] - emit[0]) / SPEED``.
    Each trigger asks it for its frontier between the trigger timestamp
    and the end of the trigger's latestOffset phase; the frontier it
    returned brackets the elapsed pacing time, so every data batch
    bounds ``start`` from both sides."""
    lo, hi = -np.inf, np.inf
    for p in progress:
        if p["numInputRows"] == 0:
            continue
        end = _idx(p["sources"][0]["endOffset"])
        if end <= 0 or end >= n:
            continue
        t = _ts_s(p["timestamp"])
        t_hi = t + p["durationMs"].get("latestOffset", 0) / 1000.0
        elapsed_lo = (emit[end - 1] - emit[0]) / SPEED / 1000.0
        elapsed_hi = (emit[end] - emit[0]) / SPEED / 1000.0
        lo = max(lo, t - elapsed_hi)
        hi = min(hi, t_hi - elapsed_lo)
    if not np.isfinite(lo) or not np.isfinite(hi):
        raise RuntimeError("no paced batch to locate the replay clock")
    return (lo + hi) / 2.0


def stream_replay(args, rt, spark, tracer, t0) -> Result:
    import glob

    import pyarrow.parquet as pq

    from table_demo_spark.queries.reference import Q1_ORACLE
    from table_demo_spark.sources import replay
    from table_demo_spark.streaming import queries as sq
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    res = Result()
    _trace_engine(tracer)
    data = os.path.join(rt.work, "stream")
    # Warm-up, then the ladder from the highest rate down: the lowest
    # step, where latency is measured, comes last, once the heavier steps
    # have finished warming the JVM and drained their backlog.
    step_s = args.seconds * (1 - LOW_STEP_SHARE) / (len(args.rates) - 1)
    steps = [(args.rates[0], WARMUP_STEP_S)]
    steps += [(r, step_s) for r in reversed(args.rates[1:])]
    steps += [(args.rates[0], args.seconds * LOW_STEP_SHARE)]
    low_step = len(steps) - 1
    bounds = datagen.write_stream_input(data, args.seed, steps, SPEED)
    n = bounds[-1]
    res.attempted = n

    prepared = replay.ensure_emit_ordered(spark, f"{data}/events.parquet", timecol="ts")
    files = sorted(glob.glob(os.path.join(prepared, "part-*.parquet")))
    tbl = [pq.read_table(f, columns=["event_id", "__emit_ms"]) for f in files]
    event_id = np.concatenate([t.column(0).to_numpy() for t in tbl])
    emit = np.concatenate([t.column(1).to_numpy() for t in tbl]).astype("float64")
    step_of = np.searchsorted(bounds, event_id, side="right") - 1

    sink = TimedSink(ParquetUpsertSink(os.path.join(rt.work, "sink"), ("cell", "dept_time")), tracer)
    with _span(tracer, "queries.build"):
        _, query = sq.run_q1_stream(spark, data, speed=SPEED, sink=sink)
    q_start = time.time()
    ckpt = glob.glob(os.path.join(rt.tmp, "tds-ckpt-*"))[0]
    deadline = q_start + sum(s for _, s in steps) + DRAIN_TIMEOUT_S
    committed = 0
    try:
        while committed < n and time.time() < deadline and query.isActive:
            time.sleep(0.1)
            committed = _offset_log(ckpt)[1]
    finally:
        query.stop()
    q_end = time.time()
    if query.exception() is not None:
        res.fail(f"stream stopped with {query.exception()}")
    ends, committed = _offset_log(ckpt)
    if committed < n:
        res.fail(f"committed end offset {committed} < {n} input rows", n - committed)
    progress = [json.loads(p.json) for p in query.recentProgress]

    # correctness: the final sink state equals Q1 over the whole input
    oracle = Oracle(data, tables=("events",))
    try:
        why = mismatch(sink.inner.snapshot_df(spark).toPandas(), oracle.query(Q1_ORACLE))
    finally:
        oracle.close()
    if why is not None:
        res.fail(f"sink state differs from Q1 oracle: {why}", n - res.failed)

    # per-event latency: the batch's sink return minus the event's due time
    start = _wall_start(progress, emit, n)
    due = start + (emit - emit[0]) / SPEED / 1000.0
    latency = np.full(n, np.nan)
    batch_of = np.full(n, -1)
    prev = 0
    for b in sorted(ends):
        hi = ends[b]
        if hi > prev and b in sink.returned:
            latency[prev:hi] = (sink.returned[b] - due[prev:hi]) * 1000.0
            batch_of[prev:hi] = b
        prev = max(prev, hi)
    returns = sorted((t, ends[b]) for b, t in sink.returned.items() if b in ends)
    ret_t = np.array([t for t, _ in returns])
    ret_end = np.array([e for _, e in returns])
    batch_s = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1000.0 for p in progress}

    step_rows = []
    sustained = 0.0
    for k in range(1, len(steps)):
        rate = steps[k][0]
        in_step = np.flatnonzero(step_of == k)
        sel = in_step[~np.isnan(latency[in_step])]
        w0, w1 = float(due[in_step].min()), float(due[in_step].max())
        realized = len(in_step) / (w1 - w0)
        p50, p99 = _pct(latency[sel], 50), _pct(latency[sel], 99)
        # backlog left when the step's last event falls due, in seconds
        # of input at the step's rate
        done = ret_t <= w1
        committed_w1 = int(ret_end[done].max()) if done.any() else 0
        lag_s = (np.searchsorted(due, w1, side="right") - committed_w1) / rate
        period = float(np.median([batch_s[b] for b in set(batch_of[sel]) if b in batch_s]))
        ok = p99 <= args.p99_limit_ms and lag_s <= BACKLOG_PERIODS * period
        if ok:
            sustained = max(sustained, realized)
        step_rows.append({
            "rate": rate, "realized_rate": round(realized, 2), "events": int(len(in_step)),
            "batches": int(len(set(batch_of[sel]))), "p50_ms": round(p50, 1),
            "p99_ms": round(p99, 1), "batch_s": round(period, 3),
            "backlog_rows": int(lag_s * rate), "backlog_s": round(lag_s, 3), "sustained": bool(ok),
        })
    for row in step_rows:
        res.details.append("step " + json.dumps(row))
    low = (step_of == low_step) & ~np.isnan(latency)
    setup_s = float(due[step_of == 1].min()) - t0
    e2e = res.end_to_end
    e2e["setup_s"] = setup_s
    e2e["latency_p50_ms"] = _pct(latency[low], 50)
    e2e["latency_tail_ms"] = _pct(latency[low], 99)
    e2e["throughput_per_s"] = sustained
    n_low = int(low.sum())
    b_low = int(len(set(batch_of[low])))
    res.note("setup_s", round(setup_s, 3), "s")
    res.note("event_latency_p50_ms", round(e2e["latency_p50_ms"], 3), "ms", n_low)
    res.note("event_latency_p99_ms", round(e2e["latency_tail_ms"], 3), "ms", n_low)
    res.note("event_latency_batches", b_low, "count")
    res.note("sustained_events_per_s", round(sustained, 3), "1/s")
    res.note("stream_wall_s", round(q_end - q_start, 3), "s")

    def reduce_trace(tr: Tracer, log_dir: str) -> dict:
        return _stream_layers(tr, log_dir, progress, step_rows)

    res.reduce_trace = reduce_trace
    return res


def _stream_layers(tracer, log_dir, progress, step_rows) -> dict:
    jobs, stages = read_event_log(log_dir)
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    nb = max(len(data_batches), 1)
    windows = [
        (_ts_s(p["timestamp"]) * 1000, _ts_s(p["timestamp"]) * 1000 + p["durationMs"].get("triggerExecution", 0))
        for p in progress
    ]
    per_batch = [0] * len(windows)
    stream_jobs = []
    for j in jobs:
        for i, (w0, w1) in enumerate(windows):
            if w0 <= j.submit_ms <= w1:
                per_batch[i] += 1
                stream_jobs.append(j)
                break
    tot = job_totals(stream_jobs, stages)
    trigger_ms = sum(w1 - w0 for w0, w1 in windows)

    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in data_batches]
        return float(np.median(vals)) if vals else 0.0

    sinks = [s for s in tracer.spans if s.name == "streaming.sink"]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")
    ]
    busy = [c for c, p in zip(per_batch, progress) if p["numInputRows"] > 0]

    def ms(name):
        return sum((s.end - s.start) * 1000 for s in tracer.spans if s.name == name)

    out = {
        "session.start_ms": ms("session.start"),
        "sources.load_ms": 0.0,
        "sources.load_jobs": 0.0,
        "sources.prep_ms": ms("sources.prep"),
        "sources.replay_backlog_rows": float(step_rows[-1]["backlog_rows"]),
        "queries.build_ms": tracer.self_ms().get("queries.build", 0.0),
        "queries.build_jobs": 0.0,
        "spark.exec_ms": tot["busy_ms"] / nb,
        "spark.driver_gap_ms": max(0.0, trigger_ms - tot["busy_ms"]) / nb,
        "streaming.batches": float(len(data_batches)),
        "streaming.rows_per_batch": float(np.median([p["numInputRows"] for p in data_batches])) if data_batches else 0.0,
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.sink_ms": float(np.median([(s.end - s.start) * 1000 for s in sinks])) if sinks else 0.0,
        "streaming.jobs_per_batch": float(np.median(busy)) if busy else 0.0,
        "streaming.state_rows": float(max(state_rows, default=0)),
    }
    out.update(_spark_layers(tot, nb))
    return out

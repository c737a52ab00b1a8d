"""The benchmark's workloads. Each drives the engine through its public
modules, measures with tracing off, optionally repeats the measurement
traced, and checks every output outside the timed regions.

A workload is ``fn(ctx) -> Result``; ``run.py`` owns arguments, data
generation, reporting and exit codes.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import (
    Result, RssSampler, Workdir, log, median, percentile, provenance, repeated_setup, start_session,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.fraud_pipeline import FraudPipeline
from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.scoring import as_transactions
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import load_tables
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import spool_event_chunks
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import EVENTS_SCHEMA, parse_json_stream
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.velocity import velocity_features_stream
from tracing import ProgressLog, SqlStatus, Tracer, cache_contents, catalyst_phases, patched_layers


@dataclass
class Context:
    work: Workdir
    data_dir: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    provenance: dict | None = None


# per-trigger durationMs components, in the order a micro-batch runs them
DURATIONS = {
    "latestOffset": "latest_offset",
    "walCommit": "wal_commit",
    "getBatch": "get_batch",
    "queryPlanning": "query_planning",
    "addBatch": "add_batch",
    "commitOffsets": "commit_offsets",
}
ROCKSDB_COMMIT = {
    "rocksdbCommitFlushLatency": "statestore.rocksdb_flush_ms",
    "rocksdbCommitCompactLatency": "statestore.rocksdb_compact_ms",
    "rocksdbCommitCheckpointLatency": "statestore.rocksdb_checkpoint_ms",
    "rocksdbCommitFileSyncLatencyMs": "statestore.rocksdb_file_sync_ms",
    "rocksdbCommitPauseLatency": "statestore.rocksdb_pause_ms",
}
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def progress_layers(res: Result, prefix: str, progress: list[dict]) -> None:
    """From whole progress events of one query: batch count and size,
    p50 and max of the trigger and each durationMs component, self time
    per component (``other`` is the trigger time no component covers),
    and state-store work."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    res.layer(f"{prefix}.batches", len(batches), "count")
    rows = [p["numInputRows"] for p in batches]
    res.layer(f"{prefix}.rows_per_batch", float(np.mean(rows)) if rows else 0.0, "rows")
    trigger = [float(p["durationMs"].get("triggerExecution", 0)) for p in batches] or [0.0]
    res.layer(f"{prefix}.trigger_ms.p50", median(trigger), "ms")
    res.layer(f"{prefix}.trigger_ms.max", max(trigger), "ms")
    covered = 0.0
    for key, name in DURATIONS.items():
        vals = [float(p["durationMs"].get(key, 0)) for p in batches] or [0.0]
        res.layer(f"{prefix}.{name}_ms.p50", median(vals), "ms")
        res.layer(f"{prefix}.{name}_ms.max", max(vals), "ms")
        res.layer(f"self.{prefix}.{name}_s", sum(vals) / 1e3, "s")
        covered += sum(vals)
    res.layer(f"self.{prefix}.other_s", max(0.0, sum(trigger) - covered) / 1e3, "s")
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    if not ops:
        return
    res.layer("statestore.commit_ms", sum(op.get("commitTimeMs", 0) for op in ops), "ms")
    last = [p["stateOperators"] for p in batches if p.get("stateOperators")][-1]
    res.layer("statestore.rows_total", sum(op["numRowsTotal"] for op in last), "rows")
    res.layer("statestore.memory_bytes", sum(op["memoryUsedBytes"] for op in last), "B")
    for key, name in ROCKSDB_COMMIT.items():
        res.layer(name, sum(op.get("customMetrics", {}).get(key, 0) for op in ops), "ms")


def sql_layers(res: Result, sql: dict[str, float], keys: tuple[str, ...]) -> None:
    for key in keys:
        unit = "ms" if key.endswith("_ms") else "B" if "bytes" in key else "count"
        res.layer(key, sql[key], unit)


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event
    (the last progress event of a query arrives after it terminates)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@contextlib.contextmanager
def listening(spark, traced: bool):
    """A ProgressLog on the session for the block (None when untraced)."""
    if not traced:
        yield None
        return
    listener = ProgressLog()
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        wait_for_listeners(spark)
        spark.streams.removeListener(listener)


# -- stream_alerts_catchup: open-loop alerts ------------------------------------

RATE = 5000  # events per second
TICK_S = 0.25  # mean interval between landing files
WARMUP_S = 4.0  # leading events excluded from latency statistics


def landing_schedule(rng: np.random.Generator, duration: float) -> np.ndarray:
    """Seconds after the start at which each landing file is due: gaps
    uniform in [0.5, 1.5] x TICK_S. A fixed cadence would let the
    micro-batch cycle (close to one tick here) phase-lock to the arrivals,
    so each run's latency would depend on where the lock happened to fall."""
    gaps = rng.uniform(0.5 * TICK_S, 1.5 * TICK_S, size=int(2 * duration / TICK_S) + 2)
    due = np.cumsum(gaps)
    return np.append(due[due < duration], duration)


def render_files(events, due: np.ndarray, stage: str) -> None:
    """Pre-render every landing file in the reference producer's wire
    format (one JSON object per event). Event i is created at i / RATE
    and travels in the first file due at or after that."""
    os.makedirs(stage, exist_ok=True)
    cols = events.to_pydict()
    ts = np.datetime_as_string(events.column("ts").to_numpy(), unit="us")
    lines = [
        json.dumps(
            {
                "event_id": cols["event_id"][i],
                "ts": ts[i] + "Z",
                "user_id": cols["user_id"][i],
                "event_type": cols["event_type"][i],
                "value": cols["value"][i],
                "props": cols["props"][i],
            }
        )
        for i in range(events.num_rows)
    ]
    owner = np.searchsorted(due, np.arange(events.num_rows) / RATE, side="left")
    bounds = np.searchsorted(owner, np.arange(len(due) + 1), side="left")
    for k in range(len(due)):
        with open(os.path.join(stage, f"events-{k:06d}.json"), "w") as fh:
            fh.write("".join(line + "\n" for line in lines[bounds[k] : bounds[k + 1]]))
    with open(os.path.join(stage, "..", "schedule.json"), "w") as fh:
        json.dump(due.tolist(), fh)


def sink_commits(sink: str) -> tuple[dict[int, float], dict[int, float]]:
    """(txn_id -> commit time of the file-sink batch that holds it,
    batch id -> commit time). A batch is committed when its
    ``_spark_metadata`` log entry is written; compacted entries list every
    earlier file too, so each batch owns only the files not seen in an
    earlier batch."""
    meta = os.path.join(sink, "_spark_metadata")
    batches = {}
    for path in os.listdir(meta):
        stem = path.split(".")[0]
        if stem.isdigit():
            batches[int(stem)] = os.path.join(meta, path)
    seen: set[str] = set()
    out: dict[int, float] = {}
    commit_at = {b: os.stat(path).st_mtime for b, path in batches.items()}
    for b in sorted(batches):
        committed = commit_at[b]
        with open(batches[b]) as fh:
            files = [json.loads(line)["path"] for line in fh.read().splitlines()[1:] if line]
        for f in files:
            if f in seen:
                continue
            seen.add(f)
            local = f.removeprefix("file:")
            for txn in pq.read_table(local, columns=["txn_id"]).column("txn_id").to_pylist():
                out[txn] = committed
    return out, commit_at


@dataclass
class AlertFeed:
    """The open loop's pre-rendered input and its batch-scored twin."""

    stage: str
    schedule: str
    duration: float
    first_id: int
    n_warm: int
    expected: set[int]


def alert_loop(ctx: Context, spark, model, feed: AlertFeed, tag: str, traced: bool) -> dict:
    """One open-loop run: start the alert query, start the feeder, wait
    until the feeder is done and the stream has consumed every file."""
    from pyspark.sql import functions as F

    work = ctx.work
    landing, sink = work.sub(tag, "landing"), work.sub(tag, "alerts")
    os.makedirs(landing)
    log_path = work.sub(tag, "feeder.json")
    with listening(spark, traced) as listener:
        raw = spark.readStream.format("text").option("cleanSource", "delete").load(landing)
        events = parse_json_stream(raw, EVENTS_SCHEMA)
        scored = FraudPipeline.score(model, as_transactions(events, with_key=True))
        q = (
            scored.where(F.col("fraud_prediction") == 1)
            .select("txn_id", "fraud_probability")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", work.sub(tag, "ckpt"))
            .start()
        )
        t0 = time.time() + 0.5
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
             feed.stage, feed.schedule, landing, repr(t0), log_path]
        )
        try:
            with RssSampler() as rss, ctx.tracer.span("stream.open_loop"):
                rss.exclude.add(feeder.pid)
                feeder.wait(timeout=feed.duration + 60)
                q.processAllAvailable()
            end = time.time()
        finally:
            if feeder.poll() is None:
                feeder.kill()
            feeder.wait()
            q.stop()
    log(f"{tag} alert stream drained")
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited with {feeder.returncode}")
    with open(log_path) as fh:
        feed_log = json.load(fh)
    commits, batch_commit = sink_commits(sink)
    created = {txn: (txn - feed.first_id) / RATE for txn in feed.expected}
    measured = sorted(txn for txn in feed.expected if txn - feed.first_id >= feed.n_warm)
    out = {
        "latency": [commits.get(txn, end) - t0 - created[txn] for txn in measured],
        "latency_at": [(created[txn], commits.get(txn, end) - t0 - created[txn]) for txn in feed.expected],
        "missing": len(feed.expected - commits.keys()),
        "unexpected": len(commits.keys() - feed.expected),
        "lag_max": max(e["lag_s"] for e in feed_log),
        "backlog_max": max(e["backlog"] for e in feed_log),
        "peak_rss_mb": rss.peak_mb,
    }
    if traced:
        out["progress"] = listener.for_query(str(q.runId))
        out["commit_after_trigger_ms"] = [
            (batch_commit[p["batchId"]] - iso_seconds(p["timestamp"])) * 1e3
            for p in out["progress"] if p["batchId"] in batch_commit and p["numInputRows"] > 0
        ] or [0.0]
    return out


def iso_seconds(stamp: str) -> float:
    """Epoch seconds of a progress event's ``timestamp`` (UTC, ms)."""
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def latency_by_second(pairs: list[tuple[float, float]]) -> list[float]:
    """Median alert latency per second of the schedule, warm-up included:
    shows how long the engine takes to settle."""
    buckets: dict[int, list[float]] = {}
    for at, lat in pairs:
        buckets.setdefault(int(at), []).append(lat)
    return [round(median(buckets[k]), 4) for k in sorted(buckets)]


# -- stream_alerts_catchup: stateful catch-up --------------------------------------

CATCHUP_CHUNKS = 5  # spooled backlog files, one per micro-batch
CATCHUP_MIN_DRAINS = 2


def catchup_drain(spark, spool: str, ckpt: str):
    """Drain the spooled backlog through the stateful velocity operator,
    one chunk file per micro-batch, into a memory sink. Returns (query,
    wall seconds, sink table name)."""
    from pyspark.sql import functions as F

    physical = spark.read.parquet(os.path.join(spool, "chunk_0001.parquet")).schema
    raw = spark.readStream.schema(physical).option("maxFilesPerTrigger", "1").parquet(spool)
    if dict(raw.dtypes).get("ts") == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    name = "catchup_" + uuid.uuid4().hex[:8]
    t0 = time.perf_counter()
    q = (
        velocity_features_stream(raw)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q, time.perf_counter() - t0, name


def stream_alerts_catchup(ctx: Context) -> Result:
    """Open-loop alerting (stateless) then a stateful catch-up drain, in
    one engine session."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import compare

    work = ctx.work
    rng = np.random.default_rng(ctx.seed + 1)
    duration = WARMUP_S + ctx.seconds
    pool = datagen.make_events(rng, int(RATE * duration), n_users=150, first_id=1_000_000_000)
    pool_path = work.sub("stream_pool.parquet")
    pq.write_table(pool, pool_path)
    stage = work.sub("stage")
    render_files(pool, landing_schedule(rng, duration), stage)
    backlog = pq.read_metadata(f"{ctx.data_dir}/events.parquet").num_rows

    def prepare(spark):
        spark.conf.set(STATE_PROVIDER, ROCKSDB)
        train = as_transactions(spark.read.parquet(f"{ctx.data_dir}/events.parquet"))
        return FraudPipeline().fit(train)

    with patched_layers(ctx.tracer) if ctx.trace else contextlib.nullcontext():
        spark, model, setup_times = repeated_setup(prepare)
    ctx.provenance = provenance(spark, "stream_alerts_catchup", ctx.seed, ctx.trace, ctx.data_dir)
    res = Result()
    res.put("setup_s", median(setup_times), "s")
    res.notes["setup_samples_s"] = setup_times

    # batch twin of the stream: the same events, the same model
    batch = FraudPipeline.score(
        model, as_transactions(spark.read.parquet(pool_path), with_key=True)
    )
    feed = AlertFeed(
        stage=stage,
        schedule=work.sub("schedule.json"),
        duration=duration,
        first_id=pool.column("event_id")[0].as_py(),
        n_warm=int(WARMUP_S * RATE),
        expected={r.txn_id for r in batch.where(F.col("fraud_prediction") == 1).select("txn_id").collect()},
    )
    log(f"batch twin scored: {len(feed.expected)} expected alerts")

    loops = [alert_loop(ctx, spark, model, feed, "untraced", False)]

    # catch-up: warm once over a one-chunk spool, then measured drains
    outputs = []
    drains = iter(range(1000))

    def drain(spool_dir: str):
        q, wall, name = catchup_drain(spark, spool_dir, work.sub(f"ckpt{next(drains)}"))
        outputs.append(name)
        return q, wall

    t0 = time.perf_counter()
    with ctx.tracer.span("replay.spool"):
        spool = spool_event_chunks(
            spark, ctx.data_dir, CATCHUP_CHUNKS, spool_dir=work.sub("spool")
        )
    spool_s = time.perf_counter() - t0
    # warm-up: one drain of the first chunk alone pays first-use class
    # loading and Python worker start outside the measured drains
    warm = work.sub("spool_warm")
    os.makedirs(warm)
    shutil.copy2(os.path.join(spool, "chunk_0001.parquet"), warm)
    catchup_drain(spark, warm, work.sub("ckpt_warm"))
    eps, batch_s = [], []
    with RssSampler() as rss:
        t_end = time.perf_counter() + ctx.seconds / 2
        while time.perf_counter() < t_end or len(eps) < CATCHUP_MIN_DRAINS:
            q, wall = drain(spool)
            eps.append(backlog / wall)
            batch_s += [p["durationMs"]["triggerExecution"] / 1e3 for p in q.recentProgress
                        if p["numInputRows"] > 0]
    log(f"{len(eps)} measured catch-up drains done")
    if ctx.trace:  # after the untraced measurements, so those match --trace 0
        loops.append(alert_loop(ctx, spark, model, feed, "traced", True))
    res.valid = all(r["lag_max"] <= TICK_S for r in loops)
    if not res.valid:
        res.notes["invalid"] = f"feeder lag {[r['lag_max'] for r in loops]} s exceeds one tick"
    res.attempted += len(feed.expected) * len(loops)
    res.failed += sum(r["missing"] + r["unexpected"] for r in loops)
    base = loops[0]
    res.put("latency_s", percentile(base["latency"], 50), "s")
    res.put("throughput_per_s", median(eps), "1/s")
    for pct in (90, 99):
        res.layer(f"alert.latency_p{pct}_s", percentile(base["latency"], pct), "s")
    res.notes.update(
        latency_samples=len(base["latency"]),
        alert_peak_rss_mb=base["peak_rss_mb"],
        alerts_expected=len(feed.expected),
        stream_events=pool.num_rows,
        rate_eps=RATE,
        gen_lag_max_s=[r["lag_max"] for r in loops],
        catchup_backlog_events=backlog,
        catchup_drains_eps=eps,
        catchup_batch_s=batch_s,
        catchup_peak_rss_mb=rss.peak_mb,
        alert_latency_p50_by_second=latency_by_second(base["latency_at"]),
    )

    if ctx.trace:
        tr = loops[1]
        progress_layers(res, "stream", tr["progress"])
        res.layer("stream.backlog_files_max", tr["backlog_max"], "files")
        res.layer("sink.commit_after_trigger_ms.p50", median(tr["commit_after_trigger_ms"]), "ms")
        res.layer("replay.spool_s", spool_s, "s")
        res.layer("gen.lag_max_s", tr["lag_max"], "s")
        res.layer("ml.fit_s", median([s["end"] - s["start"] for s in ctx.tracer.spans
                                      if s["name"] == "ml.fit"]), "s")
        status = SqlStatus(spark)
        first = status.last_id()
        with listening(spark, True) as listener, RssSampler() as rss_t, \
                ctx.tracer.span("catchup.drain"):
            q, wall = drain(spool)
        progress_layers(res, "catchup", listener.for_query(str(q.runId)))
        sql_layers(res, status.summarize(first, status.last_id()), (
            "pyworker.start_ms", "pyworker.init_ms", "pyworker.run_ms",
            "arrow.bytes_to_python", "arrow.bytes_from_python",
            "exec.jobs", "exec.tasks", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        ))
        res.layer("peak_rss_mb", max(tr["peak_rss_mb"], rss_t.peak_mb), "MB")
        res.layer("trace.overhead_ratio",
                  percentile(tr["latency"], 50) / percentile(base["latency"], 50) - 1.0, "ratio")
        res.layer("catchup.trace_overhead_ratio", median(eps) / (backlog / wall) - 1.0, "ratio")
        for name, secs in ctx.tracer.self_times().items():
            res.layer(f"self.{name}_s", secs, "s")

    # every drain's output must equal the batch RANGE-frame oracle
    oracle = registry.ORACLE["stream_velocity_stateful"]
    cols = ("user_id", "event_id", "n_prior_10m", "sum_prior_cents")
    for name in outputs:
        out = spark.table(name).select(*cols)
        rep = compare(spark, lambda s, d: out, oracle, ctx.data_dir)
        res.attempted += 1
        res.failed += 0 if rep["row_match"] and rep["col_match"] and rep["value_match"] else 1

    if ctx.trace:  # single-core scaling reference, after everything else
        spark = start_session(cpus=1)
        spark.conf.set(STATE_PROVIDER, ROCKSDB)
        _, wall = drain(spool)
        res.layer("catchup_eps.local1", backlog / wall, "1/s")
    spark.stop()
    return res


# -- batch_mix ------------------------------------------------------------------

MIX = (
    # JVM-only fraud and ML audits: registry build, table loads, eager
    # collects and an MLlib fit dominate
    "fraud_rule_alerts",
    "fraud_velocity_alert",
    "fraud_layering_chains",
    "ml_train_score_confusion",
    # corpus queries: Arrow Python kernels and persisted subtrees
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine_cells",
    "ann_bruteforce_topk",
)


def batch_mix(ctx: Context) -> Result:
    from tests.oracle_harness import compare

    rng = np.random.default_rng(ctx.seed + 3)

    def prepare(spark):
        return load_tables(spark, ctx.data_dir)

    spark, _, setup_times = repeated_setup(prepare)
    ctx.provenance = provenance(spark, "batch_mix", ctx.seed, ctx.trace, ctx.data_dir)
    res = Result()
    res.put("setup_s", median(setup_times), "s")
    res.notes["setup_samples_s"] = setup_times
    queries = registry.QUERIES

    # correctness pass against the DuckDB oracles; with the untimed pass
    # after it, it also warms the JVM and the Python workers
    mismatched = []
    for name in rng.permutation(MIX):
        res.attempted += 1
        try:
            rep = compare(spark, queries[name], registry.ORACLE[name], ctx.data_dir)
            ok = rep["row_match"] and rep["col_match"] and rep["value_match"]
        except Exception as exc:  # a failing query is a finding, not a crash
            ok, rep = False, {"error": repr(exc)[:500]}
        if not ok:
            res.failed += 1
            mismatched.append({"query": str(name), "report": rep})
    res.notes["mismatched"] = mismatched
    log("correctness pass done")

    per_query: dict[str, list[float]] = {name: [] for name in MIX}

    def one_pass() -> float:
        spark.catalog.clearCache()
        t_pass = time.perf_counter()
        for name in rng.permutation(MIX):
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                queries[name](spark, ctx.data_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                res.failed += 1
                mismatched.append({"query": str(name), "error": repr(exc)[:500]})
                continue
            per_query[str(name)].append(time.perf_counter() - t0)
        return time.perf_counter() - t_pass

    one_pass()
    for walls in per_query.values():
        walls.clear()
    passes = []
    with RssSampler() as rss:
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or len(passes) < 2:
            passes.append(one_pass())
    log(f"{len(passes)} measured passes done")
    # typical query wall: geometric mean of each query's median, so every
    # query weighs the same and no single query's time is picked out
    medians = [median(w) for w in per_query.values() if w]
    res.put("latency_s", float(np.exp(np.mean(np.log(medians)))), "s")
    res.put("throughput_per_s", sum(map(len, per_query.values())) / sum(passes), "1/s")
    res.notes.update(
        per_query_walls_s=per_query, pass_walls_s=passes, mix=list(MIX), peak_rss_mb=rss.peak_mb
    )
    if ctx.trace:
        traced_mix_pass(ctx, spark, res, median(passes))
    spark.stop()
    return res


def traced_mix_pass(ctx: Context, spark, res: Result, untraced_pass_s: float) -> None:
    """One more pass with every layer boundary traced: registry build,
    table loads, MLlib fits, Catalyst phases, the sink, and the SQL status
    store's executions, jobs, tasks and node metrics."""
    tracer = ctx.tracer
    status = SqlStatus(spark)
    spark.catalog.clearCache()
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    eager = 0
    first = status.last_id()
    t_pass = time.perf_counter()
    with RssSampler() as rss, patched_layers(tracer), tracer.span("mix.pass"):
        for name in MIX:
            with tracer.span("mix.query"):
                before = status.last_id()
                with tracer.span("plans.build"):
                    df = registry.QUERIES[name](spark, ctx.data_dir)
                eager += status.last_id() - before
                with tracer.span("catalyst"):
                    for k, v in catalyst_phases(df).items():
                        phases[k] = phases.get(k, 0.0) + v
                with tracer.span("exec.sink"):
                    df.write.format("noop").mode("overwrite").save()
    traced_wall = time.perf_counter() - t_pass
    entries, cached_bytes = cache_contents(spark)
    res.layer("plans.build_s", tracer.total("plans.build"), "s")
    res.layer("sources.load_tables_s", tracer.total("sources.load_tables"), "s")
    res.layer("sources.load_tables_calls", tracer.count("sources.load_tables"), "count")
    res.layer("sql.eager_executions", eager, "count")
    for k in ("analysis", "optimization", "planning"):
        res.layer(f"catalyst.{k}_ms", phases[k], "ms")
    res.layer("ml.fit_s", tracer.total("ml.fit"), "s")
    res.layer("exec.sink_s", tracer.total("exec.sink"), "s")
    sql_layers(res, status.summarize(first, status.last_id()), (
        "exec.jobs", "exec.tasks", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.spill_bytes", "pyworker.start_ms", "pyworker.init_ms", "pyworker.run_ms",
        "arrow.bytes_to_python", "arrow.bytes_from_python",
    ))
    res.layer("cache.entries_after_pass", entries, "count")
    res.layer("cache.bytes_after_pass", cached_bytes, "B")
    res.layer("peak_rss_mb", rss.peak_mb, "MB")
    res.layer("trace.overhead_ratio", traced_wall / untraced_pass_s - 1.0, "ratio")
    for name, secs in tracer.self_times().items():
        res.layer(f"self.{name}_s", secs, "s")


WORKLOADS = {
    "stream_alerts_catchup": stream_alerts_catchup,
    "batch_mix": batch_mix,
}

"""The two stream workloads, each in three phases.

* `absa_stream`: the production consumer. Review envelopes (Kafka-value JSON
  bytes) -> `sources.kafka.parse_envelope` -> `streaming.pipelines.absa_transform`
  (the `operators.inference` pandas_udf) -> foreachBatch
  `streaming.sinks.idempotent_parquet_writer`. Stateless; the Python/Arrow
  inference layer does most of the work and the sink writes every batch.
* `window_stream`: `streaming.event_time.tumbling_counts(key="user_id")` with
  the default 10-minute watermark, update mode, same sink. JVM-only, stateful
  (RocksDB) and shuffling every batch; the inference layer does nothing here,
  so an inference change should not move it.

Phases: `drain` empties a pre-staged backlog with availableNow, three
times, each on a fresh checkpoint and sink (closed loop, capacity); `lo` and
`hi` feed fixed open-loop rates from the generator process (loadgen.py) into
one continuous query. Per-event latency is the sink commit time of the batch
that consumed the event minus the event's *due* time, joined from records
outside the hot path: the generator log (file -> due), the checkpoint's
source and offset logs (file -> batch) and the foreachBatch wrapper's commit
times (batch -> commit).
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import subprocess
import sys
import time
from collections import Counter

import gen
import probe

HERE = os.path.dirname(os.path.abspath(__file__))

#: open-loop rates in rows/s: `lo` exposes the per-batch fixed cost, `hi`
#: sits at roughly 60% of the measured drain capacity on 4 cores
RATES = {"absa": (500, 2000), "window": (2000, 8000)}
#: backlog sized to one to two seconds of drain on 4 cores
DRAIN_ROWS = {"absa": 6400, "window": 32000}
BACKLOG_FILES = 8
#: the model version the pipeline runs and the reference checks
MODEL_VERSION = "v0"
#: the backlog is drained this many times; wall_s is the median
DRAINS = 3
PRIMER_ROWS = 100
GRACE_S = 8.0


# ----------------------------------------------------------------- inputs --


def write_backlog(kind: str, seed: int, texts, in_dir: str, first_file: str,
                  first_event: int, rows: int, files: int, now_us: int) -> None:
    """`files` parquet files of `rows` events in total. Window events are
    stamped over the half minute before `now_us`, with the generator's late
    share."""
    per = rows // files
    for j in range(files):
        start = first_event + j * per
        if kind == "absa":
            t = gen.review_envelopes(seed, texts, start, per)
        else:
            events, late = gen.click_events(seed, gen.N_USERS, start, per)
            t = gen.stamp(events, late, now_us - (files - j) * 4_000_000)
        gen.write_file(t, os.path.join(in_dir, f"{first_file}{j:06d}.parquet"))


def _schema(kind: str):
    from pyspark.sql import types as T

    if kind == "absa":
        return T.StructType([T.StructField("value", T.BinaryType())])
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def pipeline(spark, kind: str, in_dir: str, max_files: int | None = None):
    from bigdata_streaming_absa_vehicle_spark.schemas import REVIEW_ENVELOPE
    from bigdata_streaming_absa_vehicle_spark.sources.kafka import parse_envelope
    from bigdata_streaming_absa_vehicle_spark.streaming.event_time import tumbling_counts
    from bigdata_streaming_absa_vehicle_spark.streaming.pipelines import absa_transform

    reader = spark.readStream.schema(_schema(kind))
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    src = reader.parquet(in_dir)
    if kind == "absa":
        return absa_transform(parse_envelope(src, REVIEW_ENVELOPE), MODEL_VERSION)
    return tumbling_counts(src, key="user_id")


# ------------------------------------------------------------------- sink --


class Sink:
    """foreachBatch target: the program's idempotent parquet writer, plus the
    commit time of every batch. Traced, it also persists and counts the
    batch first, so transform and write show as separate spans."""

    def __init__(self, out_dir: str, tracer: probe.Tracer):
        from bigdata_streaming_absa_vehicle_spark.streaming.sinks import idempotent_parquet_writer

        self.writer = idempotent_parquet_writer(out_dir)
        self.tracer = tracer
        self.commits: dict[int, float] = {}

    def write(self, df, batch_id: int) -> None:
        if self.tracer.enabled:
            with self.tracer.span("batch", batch_id=batch_id) as bs:
                with self.tracer.span("transform", bs) as ts:
                    df.persist()
                    ts["rows"] = df.count()
                with self.tracer.span("write", bs):
                    self.writer(df, batch_id)
                df.unpersist()
        else:
            self.writer(df, batch_id)
        self.commits[batch_id] = time.time()


def start_query(df, kind: str, sink: Sink, ckpt: str, available_now: bool):
    w = (df.writeStream.foreachBatch(sink.write)
         .outputMode("append" if kind == "absa" else "update")
         .option("checkpointLocation", ckpt))
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
    return w.start()


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source's log
    maps each file to a source offset; the offset log maps each micro-batch
    to the source offset it read up to. They differ whenever a batch without
    new data (a watermark-only batch) has run."""
    seen: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                seen[os.path.basename(e["path"])] = e["batchId"]
    ends = []
    d = os.path.join(ckpt, "offsets")
    for f in os.listdir(d):
        if f.isdigit():
            with open(os.path.join(d, f)) as fh:
                ends.append((json.loads(fh.read().splitlines()[2])["logOffset"], int(f)))
    ends.sort()
    out = {}
    for name, off in seen.items():
        i = bisect.bisect_left(ends, (off, -1))
        if i < len(ends):
            out[name] = ends[i][1]
    return out


def drain(spark, kind: str, in_dir: str, base: str, tracer: probe.Tracer,
          max_files: int | None = None) -> float:
    """Run the files in `in_dir` to empty with availableNow, on a checkpoint
    and sink of their own under `base`; seconds from start to last commit.
    A file source on a fresh checkpoint reads its whole directory, so every
    drain of the same directory does the same work."""
    sink = Sink(os.path.join(base, "out"), tracer)
    t0 = time.time()
    q = start_query(pipeline(spark, kind, in_dir, max_files), kind, sink,
                    os.path.join(base, "ckpt"), available_now=True)
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError("drain did not finish in 120 s")
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return max(sink.commits.values()) - t0


# -------------------------------------------------------------- the run --


def run(run, kind: str) -> None:
    spark = run.start_session()
    counters = probe.SparkCounters(spark)
    drain_rows = DRAIN_ROWS[kind]

    # set-up: generate the inputs and stage the backlog once; the warm-up and
    # every drain read it on a checkpoint and sink of their own
    stamp_us = int(time.time() * 1e6)
    t0 = time.perf_counter()
    texts = gen.review_texts(run.seed) if kind == "absa" else None
    backlog_in = os.path.join(run.work, "backlog")
    write_backlog(kind, run.seed, texts, backlog_in, "b", 0, drain_rows, BACKLOG_FILES, stamp_us)
    opened = os.path.join(run.work, "open")
    write_backlog(kind, run.seed, texts, os.path.join(opened, "in"), "p", 10**9,
                  PRIMER_ROWS, 1, stamp_us)
    stage_s = time.perf_counter() - t0

    # warm-up: the backlog in two micro-batches; lighter warm-ups left the
    # first measured drain ~50% slow
    t0 = time.perf_counter()
    drain(spark, kind, backlog_in, os.path.join(run.work, "warm"), probe.Tracer(False),
          max_files=BACKLOG_FILES // 2)
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + stage_s + warm_s

    rss = probe.RssSampler(run.jvm_pid())
    mark = counters.mark() if run.trace else None
    cpu0 = probe.cpu_times()
    with rss.active():
        stages = [os.path.join(run.work, f"drain{k}") for k in range(DRAINS)]
        drains = [drain(spark, kind, backlog_in, base, probe.Tracer(False)) for base in stages]
        if run.trace:
            # the tracing overhead: one more drain of the same backlog, traced
            stages.append(os.path.join(run.work, "traced"))
            traced_drain_s = drain(spark, kind, backlog_in, stages[-1], run.tracer)
        sink = Sink(os.path.join(opened, "out"), run.tracer)
        progress, gen_log, t_start = open_loop(run, kind, opened, sink, drain_rows)
    rss.close()
    steal = probe.steal_share(cpu0, probe.cpu_times())
    spark_totals = counters.totals(mark) if run.trace else {}
    drain_s = statistics.median(drains)

    fb = file_batches(os.path.join(opened, "ckpt"))
    lat = {"lo": [], "hi": []}
    missing = 0
    for e in gen_log:
        commit = sink.commits.get(fb.get(e["file"], -1))
        if commit is None:
            missing += e["rows"]
            continue
        lat[e["phase"]].extend([(commit - e["due"]) * 1e3] * e["rows"])
    run.attempted += drain_rows * len(stages) + PRIMER_ROWS + sum(e["rows"] for e in gen_log)
    if missing:
        run.mismatch(f"{missing} events not committed {GRACE_S:.0f} s after the generator stopped",
                     missing)

    t_check = time.perf_counter()
    backlog = reference(spark, kind, backlog_in)
    for base in stages:
        check_sink(run, kind, os.path.join(base, "out"), backlog)
    check_sink(run, kind, os.path.join(opened, "out"), reference(spark, kind, os.path.join(opened, "in")))
    check_s = time.perf_counter() - t_check

    lo, hi = probe.timing(lat["lo"]), probe.timing(lat["hi"])
    run.e2e.update({
        "setup_s": setup_s,
        "wall_s": drain_s,
        "latency_ms": hi["p50"],
    })
    lo_rate, hi_rate = RATES[kind]
    lo_s, hi_s = phase_seconds(run.seconds)
    run.note(f"workload {kind}_stream: {DRAINS} drains of {drain_rows} staged rows, then open loop "
             f"at lo {lo_rate} rows/s for {lo_s:g} s and hi {hi_rate} rows/s for {hi_s:g} s, "
             f"local[{run.cores}]")
    run.note(f"  setup_s             {setup_s:9.3f} s    session {run.session_s:.3f} + staging "
             f"{stage_s:.3f} + warm-up {warm_s:.3f}")
    run.note(f"  drain_rows_per_s    {drain_rows / drain_s:9.1f}      {drain_rows} rows in "
             f"{drain_s:.3f} s (median of {', '.join(f'{d:.3f}' for d in drains)})")
    for name, t in (("lo", lo), ("hi", hi)):
        run.note(f"  {name}_latency_p50_ms   {t['p50']:9.1f} ms   n={t['n']}")
        run.note(f"  {name}_latency_p{t['tail_q']:g}_ms  {t['tail']:9.1f} ms   n={t['n']}")
    run.note(f"  failed_ratio        {run.failed / max(run.attempted, 1):9.4f}      "
             f"{run.failed} of {run.attempted} events")
    run.note(f"  peak_rss_mb         {rss.peak_bytes / 2**20:9.1f} MB")
    run.note(f"  host_steal          {steal:9.1%}      of the CPU time asked for while timed")
    run.note(f"  (correctness check {check_s:.2f} s, outside every timed phase)")

    if run.trace:
        layers = stream_layers(run, kind, sink, fb, gen_log, progress,
                               os.path.join(opened, "out"), t_start)
        layers.update(spark_totals)
        layers["trace.overhead_s"] = traced_drain_s - drain_s
        if kind == "absa":
            layers["operators.inference.rows_per_s"] = inference_rate(spark, backlog_in)
        layers["streaming.drain_rows_per_s_1core"] = one_core_drain(run, kind, backlog_in)
        run.layers.update(layers)


def phase_seconds(seconds: int) -> tuple[float, float]:
    """`lo` gets 30% of the run, `hi` 70%: `hi` is the phase the end-to-end
    latency is read from, so it gets more batches."""
    return round(0.3 * seconds, 1), round(0.7 * seconds, 1)


def open_loop(run, kind: str, base: str, sink: Sink, first_event: int):
    """`lo` then `hi` from the generator process, into one query that has
    already committed a small primer batch (so no phase pays for the query's
    start). Ends when every generated file is committed or the grace period
    is over."""
    in_dir, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    lo_rate, hi_rate = RATES[kind]
    lo_s, hi_s = phase_seconds(run.seconds)
    log_path = os.path.join(run.work, "loadgen.json")
    cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--kind", kind,
           "--seed", str(run.seed), "--out", in_dir, "--log", log_path,
           "--first-event", str(first_event), "--rates", str(lo_rate), str(hi_rate),
           "--seconds", str(lo_s), str(hi_s)]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    q = None
    try:
        if proc.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed while building its payloads")
        q = start_query(pipeline(run.spark, kind, in_dir), kind, sink, ckpt, available_now=False)
        _wait(q, lambda: 0 in sink.commits, 120)
        proc.stdin.write("go\n")
        proc.stdin.flush()
        line = proc.stdout.readline().split()
        if not line or line[0] != "start":
            raise RuntimeError("load generator did not start")
        t_start = float(line[1])
        proc.wait(timeout=run.seconds + 60)
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(log_path) as f:
            gen_log = json.load(f)
        want = [e["file"] for e in gen_log]

        def committed():
            fb = file_batches(ckpt)
            return all(fb.get(f, -1) in sink.commits for f in want)

        _wait(q, committed, GRACE_S, must=False)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        if q is not None:
            q.stop()
    return list(q.recentProgress), gen_log, t_start


def _wait(q, done, timeout_s: float, must: bool = True) -> None:
    deadline = time.time() + timeout_s
    while not done():
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            if must:
                raise RuntimeError(f"stream made no progress in {timeout_s:.0f} s")
            return
        time.sleep(0.02)


# ----------------------------------------------------------- correctness --


def _read_sink(out_dir: str):
    import pyarrow.dataset as ds

    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table().to_pandas()


def reference(spark, kind: str, in_dir: str) -> Counter:
    """What the sink must hold after consuming every file in `in_dir`, as a
    multiset of canonical rows."""
    if kind == "absa":
        want = absa_reference(in_dir)
        return Counter(map(tuple, want.astype(str).itertuples(index=False)))
    from bigdata_streaming_absa_vehicle_spark.streaming.event_time import tumbling_counts

    want = tumbling_counts(spark.read.schema(_schema(kind)).parquet(in_dir), key="user_id").toPandas()
    return _canon_windows(want)


def check_sink(run, kind: str, out_dir: str, want: Counter) -> None:
    """ABSA: one sink row per event, resends included. Window: the last
    update of each (window, user) equals the batch twin."""
    got = _read_sink(out_dir)
    if kind == "absa":
        got = Counter(map(tuple, got.drop(columns="batch_id").astype(str).itertuples(index=False)))
        bad = sum(((got - want) + (want - got)).values())
    else:
        last = got.sort_values("batch_id").groupby(["window_start", "user_id"]).tail(1)
        got = _canon_windows(last)
        # a wrong (window, user) counts every event of that group as failed
        bad = sum(max(k[3], 0) for k in (got - want) + (want - got))
    if bad:
        run.mismatch(f"{kind} sink {os.path.basename(os.path.dirname(out_dir))} differs from "
                     f"the reference in {bad} events", bad)


def _canon_windows(df) -> Counter:
    import pandas as pd

    start = pd.to_datetime(df["window_start"]).astype("datetime64[us]").astype("int64")
    end = pd.to_datetime(df["window_end"]).astype("datetime64[us]").astype("int64")
    return Counter(
        (int(s), int(e), int(u), int(n), round(float(v), 6))
        for s, e, u, n, v in zip(start, end, df["user_id"], df["n_events"], df["total_value"])
    )


def absa_reference(in_dir: str):
    """Expected sink rows, computed by DuckDB from the generated envelopes
    with the registry's SQL twin of the stub model
    (`operators.inference.oracle_absa_pred`, as q60's oracle uses it). This
    is independent of the pandas_udf path and costs a fraction of a Spark
    batch run of `absa_transform`."""
    import duckdb

    from bigdata_streaming_absa_vehicle_spark.operators.inference import oracle_absa_pred
    from bigdata_streaming_absa_vehicle_spark.queries.pipelines import _NORM
    from bigdata_streaming_absa_vehicle_spark.schemas import ABSA_ASPECTS

    # the twin repeats its text expression in every hash, so the text is
    # normalized once, up front
    preds = ", ".join(f"{oracle_absa_pred('norm', a, MODEL_VERSION)} AS {a}_pred"
                      for a in ABSA_ASPECTS)
    con = duckdb.connect()
    try:
        return con.sql(f"""
            WITH env AS (
                SELECT json_extract_string(j, '$.id') AS review_id,
                       coalesce(json_extract_string(j, '$.review'), '') AS text
                FROM (SELECT decode(value) AS j
                      FROM read_parquet('{os.path.join(in_dir, '*.parquet')}'))
            ), normed AS (SELECT *, {_NORM} AS norm FROM env)
            SELECT review_id, text AS review_text, {preds}, '{MODEL_VERSION}' AS model_version
            FROM normed
        """).df()
    finally:
        con.close()


# ---------------------------------------------------------- trace only --


def stream_layers(run, kind, sink, fb, gen_log, progress, out_dir, t_start) -> dict:
    rows_in = [p["numInputRows"] for p in progress if p.get("numInputRows", 0) > 0]
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    out = {
        "sources.offset_ms_p50": probe.pct([dur(p, "latestOffset", "getBatch") for p in busy], 50),
        "sources.gen_late_p99_ms": probe.pct([(e["done"] - e["due"]) * 1e3 for e in gen_log], 99),
        "streaming.batches": float(len(busy)),
        "streaming.rows_per_batch_p50": probe.pct(rows_in, 50),
        "streaming.batch_ms_p50": probe.pct([dur(p, "triggerExecution") for p in busy], 50),
        "streaming.batch_ms_p99": probe.pct([dur(p, "triggerExecution") for p in busy], 99),
        "streaming.planning_ms_p50": probe.pct([dur(p, "queryPlanning") for p in busy], 50),
        "streaming.commit_ms_p50": probe.pct([dur(p, "walCommit", "commitOffsets") for p in busy], 50),
        "streaming.pipelines.transform_ms_p50": probe.pct(run.tracer.durations_ms("transform"), 50),
        "streaming.sinks.write_ms_p50": probe.pct(run.tracer.durations_ms("write"), 50),
    }
    # backlog: generated minus committed rows, sampled at each open-loop commit
    rows_of_batch: dict[int, int] = {}
    for e in gen_log:
        b = fb.get(e["file"])
        if b is not None:
            rows_of_batch[b] = rows_of_batch.get(b, 0) + e["rows"]
    backlog = []
    for b, c in sink.commits.items():
        if c < t_start:
            continue
        generated = sum(e["rows"] for e in gen_log if e["done"] <= c)
        committed = sum(n for bb, n in rows_of_batch.items() if sink.commits.get(bb, 1e18) <= c)
        backlog.append(generated - committed)
    out["sources.backlog_rows_max"] = float(max(backlog, default=0))
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")]
    n_batches = max(len(sink.commits), 1)
    out["streaming.sinks.files_written"] = len(files) / n_batches
    out["streaming.sinks.bytes_written"] = sum(os.path.getsize(f) for f in files) / n_batches
    if kind == "window":
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        out["streaming.event_time.state_rows"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
        out["streaming.event_time.state_bytes"] = float(max((op["memoryUsedBytes"] for op in ops), default=0))
        out["streaming.event_time.state_commit_ms_p50"] = probe.pct(
            [op.get("commitTimeMs", 0) for op in ops], 50)
        out["streaming.event_time.rows_dropped_late"] = float(
            sum(op.get("numRowsDroppedByWatermark", 0) for op in ops))
    return out


def inference_rate(spark, in_dir: str) -> float:
    """`with_absa_columns` alone on one fixed, cached batch of reviews."""
    from bigdata_streaming_absa_vehicle_spark.operators.inference import with_absa_columns
    from bigdata_streaming_absa_vehicle_spark.schemas import REVIEW_ENVELOPE
    from bigdata_streaming_absa_vehicle_spark.sources.kafka import parse_envelope

    files = sorted(os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.startswith("b"))
    reviews = parse_envelope(spark.read.parquet(*files), REVIEW_ENVELOPE).select("review").cache()
    n = reviews.count()
    t0 = time.perf_counter()
    with_absa_columns(reviews, text_col="review").write.format("noop").mode("overwrite").save()
    rate = n / (time.perf_counter() - t0)
    reviews.unpersist()
    return rate


def one_core_drain(run, kind: str, backlog_in: str) -> float:
    """Single-core baseline: the same backlog drained on a fresh local[1]."""
    run.spark.stop()
    cores = run.cores
    spark = run.start_session(cores=1)
    try:
        base = os.path.join(run.work, "one_core")
        drain(spark, kind, backlog_in, os.path.join(base, "warm"), probe.Tracer(False),
              max_files=BACKLOG_FILES // 2)
        return DRAIN_ROWS[kind] / drain(spark, kind, backlog_in, os.path.join(base, "drain"),
                                        probe.Tracer(False))
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)

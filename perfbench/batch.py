"""The query workload: a closed loop with one client over a fixed list of
registry queries, each timed from the `fn()` call to the completed noop
write.

The list mixes the two query families the paper's users run. Dashboard
queries are relational work (the `queries`, `functions.ordering` and
`tables` layers and the shuffle; no Python on the executors); LLM-curation
queries run the `operators.dedup`, `operators.similarity` and
`operators.multimodal` layers (mapInPandas, numpy kernels, self-joins). Each
query's own time is a per-layer metric, so a change to one family shows
where it lands.

The timer starts before `fn()` because building a query is not free:
`pin()`/`ordered()` call `localCheckpoint(eager=False)` under AQE, which runs
every upstream shuffle stage inside `fn()`. A harness that times only the
write leaves that work out; `window_violations` proves none of a query's
Spark jobs starts outside its timed window.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen
import probe

SF = 0.1
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A subset of the registry sized to the run-time budget (README.md): the
# pin()-heavy relational query and one query per LLM operator module.
QUERIES = (
    "q09_pricing_summary",        # functions.ordering: fn()-time pin stages
    "q41_minhash_lsh_neardup",    # operators.dedup
    "q45_cosine_topk",            # operators.similarity
    "q416_jpeg_decode",           # operators.multimodal (codec mapInPandas)
)
#: timed passes per run, however short --seconds is: wall_s is their median
MIN_PASSES = 3
_TOL_S = 0.005  # status-store times are whole milliseconds


def timed_call(spark, fn, sf_dir: str, group: str, tracer, parent) -> tuple[float, float, float]:
    """One query, call to result, under its own job group. Returns epoch
    times (call, built, done)."""
    spark.sparkContext.setJobGroup(group, group)
    with tracer.span("query", parent, group=group) as qs:
        t0 = time.time()
        with tracer.span("build", qs):
            df = fn(spark, sf_dir)
        t1 = time.time()
        with tracer.span("execute", qs):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    return t0, t1, t2


def window_violations(spark, counters, group: str, start: float, end: float) -> list[int]:
    """Jobs of `group` submitted outside its timed window [start, end]."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    subs = counters.job_submissions(ids)
    return sorted(j for j, t in subs.items() if t < start - _TOL_S or t > end + _TOL_S)


def build_jobs(spark, counters, group: str, start: float, built: float) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return sum(1 for t in counters.job_submissions(ids).values()
               if start - _TOL_S <= t <= built + _TOL_S)


def oracle_mismatches(sf_dir: str, specs, results: dict) -> list[str]:
    """Each query's result against its registry DuckDB oracle, in the
    canonical form the test suite hashes (floats at 6 dp, rows unordered)."""
    import importlib.util

    import duckdb

    # the test suite's own canonical form, so the two checks cannot drift apart
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    canonicalize = conftest.canonicalize

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        bad = []
        for name, got in results.items():
            want = con.sql(specs[name].oracle).df()
            if sorted(got.columns) != sorted(want.columns) or canonicalize(got) != canonicalize(want):
                bad.append(name)
        return bad
    finally:
        con.close()


def run(run) -> None:
    from bigdata_streaming_absa_vehicle_spark.queries import all_queries

    names = QUERIES
    specs = all_queries()
    spark = run.start_session()
    counters = probe.SparkCounters(spark)
    sf_dir = os.path.join(run.work, "sf")
    t0 = time.perf_counter()
    gen.write_tables(gen.make_tables(run.seed, SF, gen.TABLES), sf_dir)
    stage_s = time.perf_counter() - t0

    # warm-up: one pass that also collects every result for the oracle check
    t0 = time.perf_counter()
    results = {n: specs[n].fn(spark, sf_dir).toPandas() for n in names}
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + stage_s + warm_s

    rng = np.random.default_rng([run.seed, 3])
    off = probe.Tracer(False)
    rss = probe.RssSampler(run.jvm_pid())
    per_query: dict[str, list[float]] = {n: [] for n in names}
    walls: dict[bool, list[float]] = {False: [], True: []}
    build, execute, n_build_jobs = [], [], []
    mark = counters.mark() if run.trace else None
    cpu0 = probe.cpu_times()
    budget_end = time.perf_counter() + run.seconds
    k = 0
    with rss.active():
        while True:
            # a traced run alternates untraced and traced passes
            traced = run.trace and k % 2 == 1
            tracer = run.tracer if traced else off
            order = [names[i] for i in rng.permutation(len(names))]
            windows = []
            p0 = time.perf_counter()
            with tracer.span("pass", index=k) as ps:
                for n in order:
                    group = f"perfbench:{n}:{k}"
                    windows.append((n, group, *timed_call(spark, specs[n].fn, sf_dir, group, tracer, ps)))
            walls[traced].append(time.perf_counter() - p0)
            # the timing itself is checked outside the timed region
            pass_build = pass_exec = 0.0
            for n, group, t_call, t_built, t_done in windows:
                run.attempted += 1
                bad = window_violations(spark, counters, group, t_call, t_done)
                if bad:
                    run.mismatch(f"{n}: jobs {bad} started outside the timed window", 1)
                if traced == run.trace:
                    per_query[n].append(t_done - t_call)
                    pass_build += t_built - t_call
                    pass_exec += t_done - t_built
                if traced:
                    n_build_jobs.append(build_jobs(spark, counters, group, t_call, t_built))
            if traced == run.trace:
                build.append(pass_build)
                execute.append(pass_exec)
            k += 1
            # at least MIN_PASSES measured passes and --seconds; a traced run
            # stops only after a traced pass, so the passes pair up
            if (traced == run.trace and len(walls[traced]) >= MIN_PASSES
                    and time.perf_counter() >= budget_end):
                break
    rss.close()
    steal = probe.steal_share(cpu0, probe.cpu_times())
    spark_totals = counters.totals(mark) if run.trace else {}

    bad = oracle_mismatches(sf_dir, specs, results)
    run.attempted += len(names)
    for n in bad:
        run.mismatch(f"{n}: result differs from its DuckDB oracle", 1)

    lat = [t for n in names for t in per_query[n]]
    typical = {n: statistics.median(per_query[n]) for n in names}
    wall = statistics.median(walls[False])
    run.e2e.update({
        "setup_s": setup_s,
        "wall_s": wall,
        # the queries differ by design, so their times are summarised, not
        # pooled: a pooled median of a few distinct queries jumps between them
        "latency_ms": statistics.geometric_mean(typical.values()) * 1e3,
    })
    run.note(f"workload query_mix: closed loop, one client, {len(names)} queries, "
             f"{len(walls[False])} untraced and {len(walls[True])} traced passes, sf{SF}, "
             f"local[{run.cores}]")
    run.note(f"  setup_s        {setup_s:9.3f} s   session {run.session_s:.3f} + staging "
             f"{stage_s:.3f} + warm-up pass {warm_s:.3f}")
    run.note(f"  batch_wall_s   {wall:9.3f} s   median of {len(walls[False])} passes")
    t = probe.timing(lat)
    run.note(f"  query_p50_s    {t['p50']:9.3f} s   n={t['n']}")
    if t["tail_q"] > 50:
        run.note(f"  query_p{t['tail_q']:g}_s    {t['tail']:9.3f} s   n={t['n']}")
    else:
        run.note(f"  (no tail percentile: n={t['n']} leaves fewer than ten samples beyond p75)")
    run.note(f"  query_geomean_s {statistics.geometric_mean(typical.values()):8.3f} s   "
             f"slowest {max(typical.values()):.3f} s")
    run.note(f"  failed_ratio   {run.failed / max(run.attempted, 1):9.4f}     "
             f"{run.failed} of {run.attempted} operations")
    run.note(f"  peak_rss_mb    {rss.peak_bytes / 2**20:9.1f} MB")
    run.note(f"  host_steal     {steal:9.1%}     of the CPU time asked for while timed")
    for n in names:
        run.note(f"    {n:34s} {typical[n]:.3f} s")

    if run.trace:
        passes = len(walls[False]) + len(walls[True])
        layers = {k: v / passes if k != "spark.task_skew" else v for k, v in spark_totals.items()}
        layers["queries.build_s"] = statistics.median(build)
        layers["queries.exec_s"] = statistics.median(execute)
        for q in names:
            layers[f"queries.{q}.s"] = statistics.median(per_query[q])
        layers["functions.ordering.build_jobs"] = sum(n_build_jobs) / len(walls[True])
        # paired passes: each traced pass against the untraced one before it
        layers["trace.overhead_s"] = statistics.median(
            t - u for u, t in zip(walls[False], walls[True]))
        run.layers.update(layers)

"""``catalog``: declared catalog queries, SQL and LLM-pipeline operators.

A fixed subset of Tier B (Catalyst SQL: scans, joins, aggregates,
windows, set ops, subqueries) and Tier C (pandas_udf/Arrow kernels,
persisted session fixtures, sketch, embedding and funnel operators) runs over the
generated tables at ``SF``, each through a noop sink. One cold pass,
then warm passes until the run time is spent (at least two), each pass
in a seed-shuffled order. After the timed passes every oracled query is
checked against DuckDB with the canonicalisation of ``tools/driver_gate.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from collections import Counter

import datagen
from sparkenv import REPO, SPARK_KEYS, CpuMeter, SparkCounters

SF = 0.02
SETUPS = 3  # view registrations per run; setup_s takes their median
MIN_WARM_PASSES = 2
TIER_B = (
    "b4a_groupby_aggs", "b5b_lag_lead", "b7c_intersect", "b12a_pandas_udaf",
    "b13a_tpch_q3_shape",
)
TIER_C = ("c2g_minhash_portable_pairs", "c2k_semantic_dedup", "c6f_event_funnel")
WARMUP = "b3i_star_join"  # run in every set-up, so kept out of the timed set
QUERIES = TIER_B + TIER_C


def gate_canon():
    """``canon`` of ``tools/driver_gate.py`` (``tools`` is not a package)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from driver_gate import canon
    finally:
        sys.path.pop(0)
    return canon


def oracle_check(spark, qs, names, data: str, codegen: dict[str, str]) -> dict[str, str]:
    """Query name -> why it disagrees with DuckDB (absent when equal)."""
    import duckdb
    from dust_spark.tables import TABLES

    canon = gate_canon()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name in names:
        if qs[name].oracle:
            spark.conf.set("spark.sql.codegen.wholeStage", codegen[name])
            try:
                why = differ(canon, qs[name].fn(spark, data).toPandas(),
                             con.execute(qs[name].oracle).df())
            except Exception as e:  # noqa: BLE001 - reported as a mismatch
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            if why:
                bad[name] = why
    con.close()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    return bad


def differ(canon, got, want) -> str | None:
    """Why two result frames differ under the gate's canonical form
    (sorted columns, order-insensitive rows, exact values), or None."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b) or not a.equals(b):
        return f"{len(a)} rows vs {len(b)}, or values differ"
    return None


def drift(times: list[float]) -> float:
    """Median of the second half of a query's warm times over the first."""
    half = len(times) // 2
    return statistics.median(times[-half:]) / statistics.median(times[:half])


def pass_orders(seed: int):
    """Query order of each pass (cold first), from the seed alone."""
    rng = random.Random(f"catalog-{seed}")
    while True:
        order = list(QUERIES)
        rng.shuffle(order)
        yield order


def _timed(spark, q, data: str, meter: CpuMeter) -> tuple[float, float, float]:
    """(build ms, total ms, CPU ms) of one execution through a noop sink."""
    c0 = meter.seconds()
    t0 = time.perf_counter()
    df = q.fn(spark, data)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return 1e3 * (t1 - t0), 1e3 * (t2 - t0), 1e3 * (meter.seconds() - c0)


def run(spark, jvm_s: float, seed: int, seconds: float, trace: bool, cache: str) -> dict:
    import bench
    from dust_spark.queries import all_queries
    from dust_spark.tables import TABLES, register_views

    data = datagen.ensure(os.path.join(cache, f"data-sf{SF}"), SF)
    qs = all_queries()
    codegen = {n: str(not bench.interpret_small_input(qs[n], data)).lower() for n in QUERIES}

    # -- set-up: views, a warm-up query and the Python worker fleet. The
    # session fixtures the timed queries persist are built by their cold
    # executions, which is what the heavy_* metrics time.
    setups = []
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        register_views(spark, data, force=True)
        qs[WARMUP].fn(spark, data).write.format("noop").mode("overwrite").save()
        spark.range(0, cores * 2, 1, cores).mapInPandas(lambda it: it, schema="id long") \
            .write.format("noop").mode("overwrite").save()
        setups.append(time.perf_counter() - t0)

    # -- timed passes ---------------------------------------------------
    orders = pass_orders(seed)
    counters = SparkCounters(spark) if trace else None
    sc = spark.sparkContext
    meter = CpuMeter(spark)
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {n: [] for n in QUERIES}
    cold_cpu: list[float] = []
    warm_cpu: list[float] = []
    layer: list[dict] = []  # traced warm executions
    untraced_ms: list[float] = []
    traced_ms: list[float] = []
    errors: dict[str, str] = {}
    samples: list[tuple] = []  # (pass, query, wall ms, CPU ms)
    tries: Counter[str] = Counter()
    executions = 0
    t_start = time.perf_counter()
    warm_start = warm_elapsed = None
    p = 0
    while p <= MIN_WARM_PASSES or time.perf_counter() - t_start < seconds:
        order = next(orders)
        if p == 1:
            warm_start = time.perf_counter()
        traced = trace and p % 2 == 1  # alternate warm passes, to measure the overhead
        for name in order:
            spark.conf.set("spark.sql.codegen.wholeStage", codegen[name])
            group = f"q{executions}"
            if traced:
                sc.setJobGroup(group, name)
            wall0 = time.time()
            executions += 1
            tries[name] += 1
            try:
                build_ms, ms, cpu_ms = _timed(spark, qs[name], data, meter)
            except Exception as e:  # noqa: BLE001 - a failing query is counted, the run goes on
                errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                continue
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            samples.append((p, name, round(ms, 3), round(cpu_ms, 3)))
            if p == 0:
                cold[name] = ms
                cold_cpu.append(cpu_ms)
                continue
            warm[name].append(ms)
            warm_cpu.append(cpu_ms)
            (traced_ms if traced else untraced_ms).append(ms)
            if traced:
                layer.append({"build_ms": build_ms, **counters.read(group, (wall0, time.time()))})
        if p >= 1:
            warm_elapsed = time.perf_counter() - warm_start
        p += 1
    n_cached, cached_mib = SparkCounters(spark).cached()

    # -- oracle (untimed) -------------------------------------------------
    t0 = time.perf_counter()
    bad = oracle_check(spark, qs, [n for n in QUERIES if n not in errors], data, codegen)
    oracle_s = time.perf_counter() - t0
    failed = sum(tries[n] for n in {*errors, *bad})
    mismatches = [{"query": n, "error": e} for n, e in errors.items()] + [
        {"query": n, "why": w} for n, w in bad.items()
    ]
    out = {
        "attempted": executions, "failed": min(failed, executions), "mismatches": mismatches,
        "info": {"sf": SF, "queries": list(QUERIES), "passes": p, "executions": executions,
                 "jvm_s": jvm_s, "setups_s": setups, "oracle_s": oracle_s,
                 "cached_mib": cached_mib, "samples": samples},
    }
    ok = [n for n in QUERIES if warm[n]]
    out["info"]["wall"] = {
        "warm_queries_per_s": sum(len(warm[n]) for n in ok) / warm_elapsed,
        "cold_p50_ms": statistics.median(cold.values()),
        "warm_p50_ms": statistics.median(statistics.median(warm[n]) for n in ok),
    }
    if trace:
        out["metrics"] = _layers(layer, traced_ms, untraced_ms, n_cached)
        out["metrics"]["queries.warm_drift_ratio"] = statistics.median(drift(warm[n]) for n in ok)
        return out
    input_bytes = sum(
        os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in TABLES
    )
    out["metrics"] = {
        "setup_s": statistics.median(setups),
        "ok_frac": 1 - out["failed"] / executions,
        "heavy_cpu_ms": statistics.mean(cold_cpu),
        "light_cpu_ms": statistics.mean(warm_cpu),
        "space_amp": cached_mib * 2**20 / input_bytes,
    }
    return out


def _layers(layer: list[dict], traced_ms, untraced_ms, n_cached: int) -> dict:
    """Per warm query execution, averaged over the traced passes."""
    m = {f"spark.{k}": statistics.mean(x[k] for x in layer) for k in SPARK_KEYS}
    m.update({
        "queries.build_ms": statistics.mean(x["build_ms"] for x in layer),
        "arrow.bytes_sent": statistics.mean(x["arrow_bytes_sent"] for x in layer),
        "arrow.bytes_received": statistics.mean(x["arrow_bytes_received"] for x in layer),
        "cache.n_cached_rdds": n_cached,
        "trace.overhead_ms": statistics.mean(traced_ms) - statistics.mean(untraced_ms),
    })
    return m

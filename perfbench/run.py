"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 8 --trace 0

Workloads are declared in ``BENCHMARK.json``. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). The line before it records the
machine (cores, load at start and end) and run details; the same record
and, when traced, the spans are written under ``perfbench/.cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")


def declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as declared in ``BENCHMARK.json``."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def with_units(metrics: dict[str, float], trace: bool) -> dict[str, dict]:
    """Attach declared units. Every declared metric is reported: a layer
    a workload never enters reads 0 in the traced run."""
    units = declared(trace)
    extra = sorted(set(metrics) - set(units))
    if extra:
        raise ValueError(f"undeclared metrics: {extra}")
    if not trace and set(metrics) != set(units):
        raise ValueError(f"missing end-to-end metrics: {sorted(set(units) - set(metrics))}")
    return {n: {"value": metrics.get(n, 0), "unit": u} for n, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("oltp_mixed", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    import dust_spark  # noqa: F401 - fail before any output when the program is absent

    import sparkenv

    machine_start = sparkenv.machine()
    workdir = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    t0 = time.perf_counter()
    spark, cores = sparkenv.start_spark(f"perfbench-{args.workload}")
    jvm_s = time.perf_counter() - t0
    try:
        if args.workload == "oltp_mixed":
            import wl_oltp

            res = wl_oltp.run(spark, jvm_s, args.seed, args.seconds, bool(args.trace), workdir)
        else:
            import wl_catalog

            res = wl_catalog.run(spark, jvm_s, args.seed, args.seconds, bool(args.trace), CACHE)
    finally:
        sparkenv.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    tracer = res.pop("tracer", None)
    metrics = with_units(res["metrics"], bool(args.trace))
    machine_end = sparkenv.machine()
    ticks = machine_end["ticks"] - machine_start["ticks"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "machine_start": machine_start,
        "machine_end": machine_end,
        "steal_frac": (machine_end["steal_ticks"] - machine_start["steal_ticks"]) / ticks,
        "idle_frac": (machine_end["idle_ticks"] - machine_start["idle_ticks"]) / ticks,
        **res["info"], "mismatches": res["mismatches"],
    }
    os.makedirs(CACHE, exist_ok=True)
    stem = os.path.join(CACHE, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + ".spans.jsonl")
    width = max(len(k) for k in metrics)
    for name, m in metrics.items():
        print(f"{name:<{width}}  {m['value']:16.4f}  {m['unit']}")
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

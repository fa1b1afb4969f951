"""Measure every candidate serving query and draw the serving mix from them.

    python3 warmbench/mix_probe.py [--seed 1] [--passes 4]

Run from the repository root. Candidates are the registered queries of
``plans.gold``, ``plans.datamart``, ``plans.star_schema``, ``plans.windows``
and ``plans.aggregates`` that have a DuckDB oracle. On star tables of the
``medallion_serving`` size, each candidate is collected once and checked
against its oracle; those that raise (most read an events table the star
schema does not have) or disagree are not eligible. The eligible queries then run
``--passes`` times in seeded shuffles to a ``noop`` sink; a query's cost is
the median of its runs after the first.

The serving mix is a stratified sample of the eligible queries by that
cost: sorted by cost, cut into ``MIX_SIZE`` strata of near-equal count, one
query drawn from each with ``random.Random(MIX_SEED)``. The costs, the
strata, the draw and how the drawn mix compares with the whole set are
written to ``.bench_out/mix_probe.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MODULES = ("gold", "datamart", "star_schema", "windows", "aggregates")
MIX_SIZE = 10
MIX_SEED = 0


def strata(costs: dict[str, float], k: int) -> list[list[str]]:
    """The names sorted by cost (then name), cut into ``k`` consecutive
    groups whose sizes differ by at most one."""
    names = sorted(costs, key=lambda n: (costs[n], n))
    q, r = divmod(len(names), k)
    out, i = [], 0
    for j in range(k):
        size = q + (1 if j < r else 0)
        out.append(names[i:i + size])
        i += size
    return out


def stratified_mix(costs: dict[str, float], k: int = MIX_SIZE, seed: int = MIX_SEED) -> list[str]:
    rng = random.Random(seed)
    return [rng.choice(group) for group in strata(costs, k)]


def summary(values: list[float]) -> dict:
    xs = sorted(values)
    q = statistics.quantiles(xs, n=10)
    return {"n": len(xs), "mean": statistics.mean(xs), "p50": statistics.median(xs),
            "p90": q[8], "max": xs[-1], "sum": sum(xs)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=4)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from warmbench import checks, gen, run
    from warmbench.workloads import MedallionServing

    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpu_count())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from pwc_challenge_dataengineer_spark.plans.catalog import ORACLES, QUERIES

    work = os.path.join(ROOT, ".bench_work", f"mix_probe-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    star = os.path.join(work, "star")
    gen.write_star(gen.star_tables(args.seed, MedallionServing.star_orders), star)
    candidates = sorted(n for n, f in QUERIES.items()
                        if f.__module__.rsplit(".", 1)[-1] in MODULES and n in ORACLES)
    con = checks.connect()
    checks.register_star(con, star)
    spark = run.start_session(work)
    excluded: dict[str, str] = {}
    runs: dict[str, list[float]] = {}
    try:
        for name in candidates:
            try:
                df = QUERIES[name](spark, star)
                problems = checks.check_query(con, ORACLES[name], df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:
                problems = [f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:160]}"]
            if problems:
                excluded[name] = "; ".join(problems)[:200]
        eligible = [n for n in candidates if n not in excluded]
        for p in range(args.passes):
            for name in random.Random(f"probe-{args.seed}-{p}").sample(eligible, len(eligible)):
                t0 = time.perf_counter()
                QUERIES[name](spark, star).write.format("noop").mode("overwrite").save()
                runs.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
                spark.catalog.clearCache()
    finally:
        run.stop_jvm(spark)
        con.close()
        shutil.rmtree(work, ignore_errors=True)

    costs = {n: statistics.median(v[1:]) for n, v in runs.items()}
    groups = strata(costs, MIX_SIZE)
    mix = stratified_mix(costs)
    result = {
        "host_cpus": run.cpu_count(),
        "star_orders": MedallionServing.star_orders,
        "seed": args.seed,
        "passes": args.passes,
        "candidates": len(candidates),
        "eligible": len(costs),
        "excluded": excluded,
        "cost_ms": {n: round(costs[n], 1) for n in sorted(costs, key=costs.get)},
        "runs_ms": {n: [round(x, 1) for x in v] for n, v in sorted(runs.items())},
        "strata": groups,
        "mix_seed": MIX_SEED,
        "mix": mix,
        "all_eligible": summary(list(costs.values())),
        "mix_summary": summary([costs[n] for n in mix]),
    }
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "mix_probe.json"), "w") as fh:
        fh.write(json.dumps(result, indent=1).replace(ROOT + os.sep, ""))  # paths relative to the checkout
    print(json.dumps({k: result[k] for k in ("eligible", "mix", "all_eligible", "mix_summary")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

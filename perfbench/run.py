"""wire-spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a wire-spark checkout.  Inputs are generated from
``--seed`` inside the checkout (``.perfbench_work/``, removed at exit);
traced runs leave their span file under ``.perfbench_out/``.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).  Earlier lines
are the human-readable report: run environment, every metric by name and
unit, and the workload's own figures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, RunEnv, steal_share  # noqa: E402

# per-layer metric prefixes each workload must report; every other
# declared per-layer metric belongs to a layer the workload does not use
OWN_LAYERS = {"catalog_mix": ("catalog.",), "etl": ("etl_backlog.", "etl_live."),
              "kv_api": ("kv.", "api.")}
SHARED_LAYERS = ("engine.", "e2e.", "spark.", "trace.", "tracing_overhead")
WORKLOADS = tuple(OWN_LAYERS)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {"e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "layers": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def _metrics(declared: dict[str, str], measured: dict, required=None) -> dict:
    """Every declared metric, in declared order.  Names starting with a
    ``required`` prefix (all names when None) must have been measured;
    the others belong to layers the workload does not use and read 0."""
    unknown = set(measured) - set(declared)
    missing = [n for n in declared if n not in measured
               and (required is None or n.startswith(required))]
    if unknown or missing:
        raise RuntimeError(f"metrics not declared: {sorted(unknown)}; not measured: {missing}")
    return {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "wire_spark", "__init__.py")):
        print(f"perfbench: no wire_spark package under {ROOT}; run from a wire-spark checkout",
              file=sys.stderr)
        return 2
    declared = _declared()
    os.chdir(ROOT)
    env = RunEnv(args.workload, args.seed)
    sys.path.insert(0, ROOT)
    try:
        if args.workload == "catalog_mix":
            import wl_catalog as wl
        elif args.workload == "kv_api":
            import wl_kv as wl
        else:
            import wl_etl as wl
        t0 = time.perf_counter()
        res = wl.run(env, args.seconds, bool(args.trace))
        wall = time.perf_counter() - t0
    finally:
        if "pyspark" in sys.modules:      # a failed run may leave its JVM up
            from common import shutdown_spark

            shutdown_spark()
        env.cleanup()

    e2e = _metrics(declared["e2e"], {k: v for k, v in res["e2e"].items() if k in declared["e2e"]})
    # CPU time per operation and the median latency are per-layer figures
    # of the untraced measurement: on a shared host they moved from run to
    # run more than an end-to-end bound allows (a 2-5 ms median GET)
    layers = _metrics(declared["layers"], {
        **res["layers"], "engine.cpu_ms_per_op": res["e2e"]["cpu_ms_per_op"],
        "e2e.latency_p50_ms": res["e2e"]["latency_p50_ms"]},
        SHARED_LAYERS + OWN_LAYERS[args.workload]) if args.trace else {}
    for name, m in e2e.items():
        if not m["value"] > 0:
            raise RuntimeError(f"end-to-end metric {name} is not positive: {m['value']}")

    print(f"# wire-spark perfbench  workload={args.workload}  trace={args.trace}  "
          f"run_wall_s={wall:.1f}")
    env.record["host_steal_share"] = round(steal_share(env.jiffies_start), 4)
    print("# environment " + json.dumps(env.record, sort_keys=True))
    for name, m in e2e.items():
        print(f"{name:<28} {m['value']:>14.4f} {m['unit']}")
    for name in ("cpu_ms_per_op", "latency_p50_ms"):
        print(f"  {name:<26} {res['e2e'][name]:>14.4f} ms")
    for name, (value, unit) in res["detail"].items():
        print(f"  {name:<26} {value:>14.4f} {unit}")
    for name, m in layers.items():
        print(f"  layer {name:<40} {m['value']:>16.4f} {m['unit']}")
    correct = res["failed"] == 0
    print(f"attempted={res['attempted']} failed={res['failed']} "
          f"failed_ratio={res['failed'] / res['attempted']:.4f} correct={correct}")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": layers if args.trace else e2e}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

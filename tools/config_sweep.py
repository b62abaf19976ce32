"""Guide-§9 config sweep (VERDICT r15 item 9, explicitly LAST after
the algorithmic waves): measure candidate session configs over the
PERF headline query set, one fresh session per config, best-of-2
noop-sink per query (bench methodology).

Candidates are guide-§9 staples that do not change any result:
- io.codec=zstd   : shuffle/spill compression codec (default lz4)
- maxpart=1g      : spark.sql.files.maxPartitionBytes 128m -> 1g
- shj             : spark.sql.join.preferSortMergeJoin=false
                    (planner may pick shuffled-hash join)
- advisory=64m    : AQE advisory partition size 64m (default from
                    engine: unset -> 64m is Spark's own default;
                    included as a control knob)

Nothing here pins to local[32]: every knob is scale-neutral or
byte-size based.  Output: one JSON line per config.

Usage: python tools/config_sweep.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wire_spark.catalog import load_registry  # noqa: E402
from wire_spark.engine import get_spark  # noqa: E402

QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "q18_large_orders", "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh", "knn_bruteforce_cosine",
    "text_quality_score", "window_session_10m",
]

CONFIGS = {
    "baseline": {},
    "zstd": {"spark.io.compression.codec": "zstd"},
    "maxpart1g": {"spark.sql.files.maxPartitionBytes": "1g"},
    "shj": {"spark.sql.join.preferSortMergeJoin": "false"},
}


def best_totals(runs: list[dict]) -> dict[str, float]:
    """Per-config MIN total over its clean passes (steady-state
    estimate, same spirit as the bench's best-of-2).  ``runs`` are the
    per-(config, pass) records ``main`` prints.  A pass with an
    errored (-1.0) query sums fewer queries, so it never counts; a
    config with no clean pass reports -1.0 (errored)."""
    best: dict[str, float] = {}
    for run in runs:
        label = run["config"]
        best.setdefault(label, -1.0)
        if any(v < 0 for v in run["queries"].values()):
            continue
        prev = best[label]
        best[label] = run["total"] if prev < 0 else min(prev, run["total"])
    return best


def main() -> None:
    """One fresh session per (pass, config); PASSES interleave the
    configs so a host burst or page-cache warm-up decaying across the
    run cannot masquerade as a config effect (the first single-pass
    run measured exactly that: totals fell 41.9 -> 10.0 s in run
    order regardless of config).  Per-config headline: ``best_totals``."""
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_registry()
    runs: list[dict] = []
    for p in range(passes):
        for label, conf in CONFIGS.items():
            conf = dict(conf)
            conf["spark.ui.showConsoleProgress"] = "false"
            spark = get_spark(f"cfg-sweep-{label}-p{p}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
            out = {}
            for name in QUERIES:
                q = registry[name]
                ts = []
                try:
                    for _ in range(reps):
                        t0 = time.perf_counter()
                        df = q.fn(spark, sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                        ts.append(time.perf_counter() - t0)
                    out[name] = round(min(ts), 3)
                except Exception as e:
                    out[name] = -1.0
                    print(f"ERROR {label}/{name}: {e}", file=sys.stderr)
                from wire_spark.queries._util import release_tracked_caches
                release_tracked_caches()
            total = round(sum(v for v in out.values() if v > 0), 3)
            run = {"config": label, "pass": p, "total": total, "queries": out}
            print(json.dumps(run), flush=True)
            runs.append(run)
            spark.stop()
    if passes > 1:
        print(json.dumps({"best_total_per_config": best_totals(runs)}),
              flush=True)


if __name__ == "__main__":
    main()

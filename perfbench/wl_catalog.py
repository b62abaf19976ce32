"""catalog_mix: one client runs a fixed mix of catalog queries back to
back (closed loop).  Each operation is ``load_registry()[name].fn(spark,
sf_dir)`` followed by a noop write; the seed shuffles the order of every
pass.  Correctness: after the timed warm-up passes, every query passes
``wire_spark.oracle.compare_query`` against its DuckDB oracle, outside
every timed interval.
"""

from __future__ import annotations

import random
import time

from common import (Session, Tracer, common_layers, find_event_log, median,
                    parse_event_log, percentile, sum_groups)
import datagen

# One query per family, so a pass fits the run and the families move
# independently.  The near-dup query builds the shingle-Jaccard edge
# relation (ROADMAP direction 3); the ml query trains
# trigram profiles with construction-time jobs and classifies through a
# broadcast join; the relational one is a three-way join and aggregation
# that should stay flat when only the other two change.
FAMILIES = {
    "relational": ("q18_large_orders",),
    "neardup": ("dedup_ngram_jaccard",),
    "ml": ("text_langid_trigram_trained",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
SCALE = 0.01
# A run does a fixed amount of work, set by --seconds alone, so every run
# stops at the same point of the JIT warm-up curve.  After the cold
# pass, a pass of the mix takes 3.7 s, then levels off at about 2.5 s
# from the fourth on, on a 4-core host with two task slots (q18 0.55 s,
# near-dup 0.9 s, langid 1.0 s).  Each query's figure is its median over
# the passes, so a run makes at least MIN_PASSES of them.
# Not dedup_connected_components (direction 4's per-round
# materialization): its rounds plan new code each time, so its passes
# still got faster after twelve and a run timed the JIT compiler.
PASS_NOMINAL_S = 2.5
MIN_PASSES = 5
# Set-up ends with this many passes, the first one cold, so the timed
# passes start where the pass time has settled: with two, runs of the
# same seed still differed by a fifth, with their CPU per query, as the
# JIT compiler finished at different points.
WARMUP_PASSES = 3


def n_passes(seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_NOMINAL_S))


def _measure(sess: Session, reg, sf_dir: str, passes: int, rng: random.Random,
             tracer: Tracer, tag: str, keep: dict | None = None) -> tuple[list[dict], int, float]:
    """Time ``passes`` passes of the mix; ``keep``, when given, receives
    each query's DataFrame."""
    spark, samples, failed = sess.spark, [], 0
    cpu0 = sess.cpu_s()
    for n_pass in range(passes):
        order = list(QUERIES)
        rng.shuffle(order)
        for name in order:
            group = f"{tag}:{name}:{n_pass}"
            sess.sc.setJobGroup(group, name)
            try:
                with tracer.span("catalog.query", req=group):
                    t0 = time.perf_counter()
                    with tracer.span("catalog.construct"):
                        df = reg[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("catalog.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, the mix goes on
                print(f"[catalog] {name} failed: {type(e).__name__}: {e}")
                failed += 1
                continue
            finally:
                sess.sc.setLocalProperty("spark.jobGroup.id", None)
                spark.catalog.clearCache()
            samples.append({"name": name, "group": group, "construct_s": t1 - t0,
                            "action_s": t2 - t1, "jobs": sess.jobs_in_group(group)})
            if keep is not None:
                keep[name] = df
    return samples, failed, sess.cpu_s() - cpu0


def _e2e(samples: list[dict]) -> dict:
    """Each query's time is its median over the passes, so one slow pass
    of one query sets neither figure: throughput is the mix's queries
    per second of those times, latency percentiles are over them."""
    per_q = [v["construct_s"] + v["action_s"] for v in _per_query(samples).values()]
    return {"throughput_per_s": len(per_q) / sum(per_q),
            "latency_p50_ms": percentile(per_q, 50) * 1000,
            "latency_p90_ms": percentile(per_q, 90) * 1000}


def _per_query(samples: list[dict]) -> dict[str, dict]:
    out = {}
    for q in QUERIES:
        mine = [s for s in samples if s["name"] == q]
        if mine:
            out[q] = {"construct_s": median([s["construct_s"] for s in mine]),
                      "action_s": median([s["action_s"] for s in mine]),
                      "jobs": median([s["jobs"] for s in mine]),
                      "groups": [s["group"] for s in mine]}
    return out


def run(env, seconds: float, trace: bool) -> dict:
    from wire_spark.catalog import load_registry
    from wire_spark.oracle import compare_query, duckdb_connection

    sess = Session(env)
    session_s = sess.start_s
    reg = load_registry()
    missing = [q for q in QUERIES if q not in reg or reg[q].oracle is None]
    if missing:
        raise RuntimeError(f"catalog queries without an oracle: {missing}")

    t1 = time.perf_counter()
    sf_dir = env.path("sf")
    datagen.write_catalog(env.seed, sf_dir, SCALE)
    datagen_s = time.perf_counter() - t1

    # warm-up: passes of the same construct + noop write as the
    # measurement, the first one cold, so first-run costs count as set-up
    t2 = time.perf_counter()
    warm_dfs: dict = {}
    warm, f_warm, _ = _measure(sess, reg, sf_dir, WARMUP_PASSES, random.Random(env.seed),
                               Tracer(False), "w", warm_dfs)
    warmup_s = time.perf_counter() - t2

    # correctness, untimed: the DataFrames the last warm-up pass timed, collected
    # (their finished shuffle stages are reused), against the DuckDB oracle
    con = duckdb_connection(sf_dir)
    wrong = [f"{name}: failed in every warm-up pass" for name in QUERIES if name not in warm_dfs]
    for name, df in warm_dfs.items():
        try:
            res = compare_query(sess.spark, con, name, lambda *_: df, reg[name].oracle, sf_dir)
            if not res.ok or res.spark_rows == 0:
                wrong.append(str(res))
        except Exception as e:
            wrong.append(f"{name}: {type(e).__name__}: {e}")
        sess.spark.catalog.clearCache()
    con.close()
    failed = len(wrong)
    for w in wrong:
        print(f"[catalog] oracle mismatch: {w}")

    passes = n_passes(seconds)
    samples, f_measure, cpu_s = _measure(sess, reg, sf_dir, passes, random.Random(env.seed),
                                         Tracer(False), "m")
    failed += f_measure
    # warm-up passes, oracle checks and timed passes
    attempted = len(warm) + f_warm + len(QUERIES) + len(samples) + f_measure
    e2e = {"setup_s": session_s + datagen_s + warmup_s, "peak_rss_mb": sess.peak_rss_mb(),
           "cpu_ms_per_op": cpu_s * 1000 / len(samples), **_e2e(samples)}
    per_q = _per_query(samples)
    detail = {f"catalog_{fam}_s": (sum(per_q[q]["construct_s"] + per_q[q]["action_s"]
                                       for q in qs if q in per_q), "s")
              for fam, qs in FAMILIES.items()}
    detail.update({"catalog_passes": (passes, "count"),
                   "catalog_queries_timed": (len(samples), "count"),
                   "engine_session_s": (session_s, "s"), "engine_datagen_s": (datagen_s, "s"),
                   "engine_warmup_s": (warmup_s, "s")})
    if not trace:
        sess.stop(final=True)
        return {"attempted": attempted, "failed": failed, "e2e": e2e, "detail": detail,
                "layers": {}}

    # traced run: same loop on a fresh context that writes an event log
    sess.stop()
    tracer = Tracer(True)
    tsess = Session(env, event_log=True)
    # the same passes in the same order as the untraced measurement
    tsamples, f_traced, _ = _measure(tsess, reg, sf_dir, passes, random.Random(env.seed),
                                     tracer, "t")
    tsess.stop(final=True)
    failed += f_traced
    attempted += len(tsamples) + f_traced
    groups = parse_event_log(find_event_log(env.path("eventlog")))
    tq = _per_query(tsamples)
    overhead = e2e["throughput_per_s"] / _e2e(tsamples)["throughput_per_s"] - 1
    layers = common_layers(session_s, datagen_s, warmup_s, overhead,
                           sum_groups(groups, [s["group"] for s in tsamples]), tracer)
    for q, v in tq.items():
        g, n = sum_groups(groups, v["groups"]), len(v["groups"])
        layers.update({f"catalog.{q}.construct_s": v["construct_s"],
                       f"catalog.{q}.action_s": v["action_s"],
                       f"catalog.{q}.jobs": v["jobs"],
                       f"catalog.{q}.executor_cpu_s": g["executor_cpu_s"] / n,
                       f"catalog.{q}.shuffle_bytes": g["shuffle_write_bytes"] / n})
    for fam, qs in FAMILIES.items():
        fam_groups = [x for q in qs for x in tq.get(q, {}).get("groups", [])]
        g, n = sum_groups(groups, fam_groups), max(1, len(fam_groups) / len(qs))
        layers.update({f"catalog.{fam}.wall_s": sum(tq[q]["construct_s"] + tq[q]["action_s"]
                                                    for q in qs if q in tq),
                       f"catalog.{fam}.tasks": g["tasks"] / n,
                       f"catalog.{fam}.executor_run_s": g["executor_run_s"] / n,
                       f"catalog.{fam}.gc_s": g["gc_s"] / n,
                       f"catalog.{fam}.spill_bytes": g["spill_bytes"] / n})
    env.write_spans(tracer)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "detail": detail,
            "layers": layers}

"""etl: the source -> transform -> sink pipeline, in two phases.

Both phases read JSON lines through the text file source
(``data_source_factory``) and apply ``parse_event_time`` ->
``with_envelope`` -> ``uppercase_json_string``.

* etl_backlog (closed loop): drain a seeded backlog, about 2% of it
  malformed, through ``with_dlq`` with ``availableNow``, a fixed number
  of times on fresh checkpoints.  Gives the workload's throughput:
  the cost per drained row of sources, transforms and sinks, including
  the DLQ split that recomputes every batch (at this size mostly its
  four jobs per batch).
* etl_live (open loop): one generator thread lands small files on a
  fixed schedule while a ``PipelineRegistry`` pipeline (json file sink,
  one micro-batch a second) runs.  Gives the workload's latency, from
  each row's scheduled creation time to the commit of the batch that
  holds it, so per-batch fixed costs (listing, planning, WAL and
  commit) show.  Its sink is a plain json sink, so a change to
  ``with_dlq`` should move the throughput and not the latency, and a
  change to the streaming per-batch overhead mostly the latency.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time

from common import (Session, Tracer, common_layers, find_event_log, median,
                    parse_event_log, percentile, sum_groups)
import datagen

# The backlog drains in one batch.  With_dlq costs about 2.3 s per batch
# up to 16000 rows (four jobs per batch and their Python workers): 8000
# and 16000 rows per batch took as long, and 32000 rows in one batch took
# twice that.  One 16000-row batch keeps a drain short enough for a run
# to afford MIN_DRAINS of them for the median.
BACKLOG_ROWS, BACKLOG_FILES, FILES_PER_TRIGGER = 16_000, 8, 8
# A run does a fixed amount of work, set by --seconds alone, so every run
# stops at the same point of the JIT warm-up curve: backlog drains, about
# DRAIN_NOMINAL_S each on a 4-core host, for half of --seconds but at
# least MIN_DRAINS of them, then the live phase for the other half.
DRAIN_NOMINAL_S = 3.0
MIN_DRAINS = 3
# The warm-up drain costs about what an 800-row one does, but runs the
# per-row code often enough for the JIT to compile it: after an 800-row
# warm-up, throughput still rose by half over the next five drains.
WARMUP_ROWS = 8_000
# The live phase offers 1000 rows/s, a fifth or less of the backlog
# throughput (4900-5900 rows/s), so the pipeline keeps up and its latency
# is per-batch cost, not queueing.
LIVE_INTERVAL_S, LIVE_ROWS_PER_FILE = 0.25, 250
# A fixed micro-batch interval: with the default trigger each batch is
# as large as the previous one was slow, which amplified host drift into
# a 0.31 run-to-run spread of the latency median over ten runs.
LIVE_TRIGGER_S = 1
_ID = re.compile(r"g\d{8}", re.IGNORECASE)


def _transforms():
    from pyspark.sql import functions as F
    from wire_spark.model import with_envelope
    from wire_spark.transforms import parse_event_time, uppercase_json_string

    return [
        parse_event_time,
        lambda df: with_envelope(df, value_col="value", event_time_col="event_time"),
        lambda df: df.withColumn("value", uppercase_json_string(F.col("value"))),
    ]


def _read_ids(pattern: str) -> list[tuple[str, float]]:
    """(generator id, file mtime) of every row a json sink wrote."""
    out = []
    for path in glob.glob(pattern):
        mtime = os.stat(path).st_mtime
        with open(path) as fh:
            for line in fh:
                m = _ID.search(json.loads(line).get("value") or "")
                out.append((m.group(0).lower() if m else "", mtime))
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(f): os.stat(os.path.join(d, f)).st_mtime
            for f in os.listdir(d) if f.isdigit()}


def _progress(q) -> list:
    return [p for p in q.recentProgress if p.numInputRows > 0]


def _phase_layers(progress: list, jobs: int) -> dict:
    def p50(key):
        return median([p.durationMs.get(key, 0) for p in progress]) if progress else 0.0

    return {"pipeline.batches": len(progress),
            "pipeline.batch_p50_ms": p50("triggerExecution"),
            "sinks.jobs_per_batch": jobs / max(1, len(progress)),
            "sources.latest_offset_ms": p50("latestOffset"),
            "sources.get_batch_ms": p50("getBatch"),
            "pipeline.planning_ms": p50("queryPlanning"),
            "pipeline.commit_ms": p50("walCommit") + p50("commitOffsets"),
            "sinks.add_batch_ms": p50("addBatch")}


# --------------------------------------------------------------------
# etl_backlog
# --------------------------------------------------------------------

def _drain(sess: Session, env, src_dir: str, tag: str, tracer: Tracer) -> dict:
    """One availableNow drain of ``src_dir`` through with_dlq."""
    from pyspark.sql import functions as F
    from wire_spark.model import SourceConfig
    from wire_spark.sinks.dlq import with_dlq
    from wire_spark.sources import data_source_factory

    out, dlq, ckpt = (env.path(tag, x) for x in ("out", "dlq", "ckpt"))
    t0 = time.time()
    with tracer.span("etl.drain", req=tag):
        with tracer.span("sources.read"):
            df = data_source_factory(SourceConfig(
                name="backlog", type="text", key=tag,
                config={"path": src_dir, "max_files_per_trigger": str(FILES_PER_TRIGGER)},
            )).read(sess.spark)
        with tracer.span("transforms.chain"):
            for t in _transforms():
                df = df.transform(t)
        with tracer.span("sinks.with_dlq"):
            q = with_dlq(df, F.col("event_time").isNotNull(), out, dlq, ckpt,
                         query_name=tag.replace("-", "_"))
            q.awaitTermination()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    prog = _progress(q)
    return {"wall": wall, "rows": _count_lines(src_dir), "progress": prog, "jobs": sess.jobs_in_group(str(q.runId)),
            "group": str(q.runId), "out": out, "dlq": dlq}


def _count_lines(src_dir: str) -> int:
    n = 0
    for path in glob.glob(os.path.join(src_dir, "*.json")):
        with open(path, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def _check_drain(d: dict, meta: dict) -> list[str]:
    out = _read_ids(os.path.join(d["out"], "*.json"))
    bad = _read_ids(os.path.join(d["dlq"], "*.json"))
    ids = [i for i, _ in out + bad]
    errs = []
    if len(out) + len(bad) != meta["rows"]:
        errs.append(f"out {len(out)} + dlq {len(bad)} != input {meta['rows']}")
    if len(bad) != meta["bad"]:
        errs.append(f"dlq {len(bad)} != injected malformed {meta['bad']}")
    if len(set(ids)) != len(ids) or "" in ids:
        errs.append("duplicate or missing generator ids")
    d.update(out_rows=len(out), dlq_rows=len(bad))
    return errs


def n_drains(seconds: float) -> int:
    return max(MIN_DRAINS, round(seconds / 2 / DRAIN_NOMINAL_S))


def _backlog_loop(sess, env, src, meta, seconds, tracer, tag) -> tuple[list[dict], int]:
    drains, failed = [], 0
    for i in range(n_drains(seconds)):
        cpu0 = sess.cpu_s()
        d = _drain(sess, env, src, f"{tag}-{i}", tracer)
        d["cpu_s"] = sess.cpu_s() - cpu0
        errs = _check_drain(d, meta)
        for e in errs:
            print(f"[etl_backlog] {e}")
        failed += bool(errs)
        drains.append(d)
    return drains, failed


def _rows_per_s(drains: list[dict]) -> float:
    """Median over the drains, so one slow drain does not set it."""
    return median([d["rows"] / d["wall"] for d in drains])


# --------------------------------------------------------------------
# etl_live
# --------------------------------------------------------------------

class Generator(threading.Thread):
    """Lands one file of LIVE_ROWS_PER_FILE rows every LIVE_INTERVAL_S
    seconds.  Rows carry their scheduled time; lateness is recorded."""

    def __init__(self, seed: int, landing: str, seconds: float, first_id: int):
        super().__init__(daemon=True)
        self.seed, self.landing, self.first_id = seed, landing, first_id
        self.n_files = max(1, int(seconds / LIVE_INTERVAL_S))
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            rng = datagen.etl_rng(self.seed, f"live-{self.first_id}")
            n = self.n_files * LIVE_ROWS_PER_FILE
            bad = {self.first_id + i for i in datagen.bad_positions(self.seed, n)}
            t0 = time.time() + 0.2
            for k in range(self.n_files):
                due = t0 + k * LIVE_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                lo = self.first_id + k * LIVE_ROWS_PER_FILE
                rows = [datagen.etl_line(rng, i, int(due * 1000), i in bad)
                        for i in range(lo, lo + LIVE_ROWS_PER_FILE)]
                tmp = os.path.join(self.landing, f".f{k:06d}.tmp")
                with open(tmp, "w") as fh:
                    fh.write("\n".join(rows) + "\n")
                os.rename(tmp, os.path.join(self.landing, f"f{k:06d}.json"))
                self.late.append(time.time() - due)
                for i in range(lo, lo + LIVE_ROWS_PER_FILE):
                    self.due[datagen.gen_id(i)] = due
        except Exception as e:  # surfaced by the caller after join
            self.error = e


def _live_once(sess: Session, env, seconds: float, tag: str, tracer: Tracer,
               first_id: int) -> dict:
    from wire_spark.model import SinkConfig, SourceConfig
    from wire_spark.pipeline import PipelineRegistry

    landing, out, ckpt = (env.path(tag, x) for x in ("landing", "out", "ckpt"))
    os.makedirs(landing)
    reg = PipelineRegistry(sess.spark)
    reg.add_source(SourceConfig(name="landing", type="text", key=tag,
                                config={"path": landing, "max_files_per_trigger": "1000"}))
    reg.add_sink(SinkConfig(name="out", type="json", key=tag,
                            config={"path": out, "checkpoint": ckpt,
                                    "trigger_seconds": str(LIVE_TRIGGER_S)}))
    with tracer.span("pipeline.create", req=tag):
        reg.create(tag, transforms=_transforms())
    with tracer.span("pipeline.run", req=tag):
        q = reg.run(tag)
    gen = Generator(env.seed, landing, seconds, first_id)
    with tracer.span("etl.generate", req=tag):
        gen.start()
        gen.join(seconds + 60)
    if gen.is_alive() or gen.error is not None:
        reg.close_all()
        raise RuntimeError(f"generator failed: {gen.error}")
    landed = len(gen.due)
    committed_at_stop = sum(p.numInputRows for p in _progress(q))
    with tracer.span("pipeline.drain", req=tag):
        q.processAllAvailable()
    prog = _progress(q)
    jobs = sess.jobs_in_group(str(q.runId))
    reg.close_all()
    if q.exception() is not None:
        raise RuntimeError(f"live pipeline failed: {q.exception()}")

    commits = sorted(_commit_times(ckpt).values())
    rows = _read_ids(os.path.join(out, "*.json"))
    lat, seen, errs = [], set(), []
    for gid, mtime in rows:
        if gid in seen or gid not in gen.due:
            errs.append(f"row {gid!r} committed twice or never landed")
            continue
        seen.add(gid)
        # a sink file belongs to the first commit after it was written
        commit = next((c for c in commits if c >= mtime), None)
        if commit is None:
            errs.append(f"row {gid} in a file no commit covers")
            continue
        lat.append((commit - gen.due[gid]) * 1000)
    if len(seen) != landed:
        errs.append(f"{landed} rows landed, {len(seen)} committed")
    for e in errs[:5]:
        print(f"[etl_live] {e}")
    return {"lat": lat, "rows": len(rows), "failed": len(errs), "landed": landed, "progress": prog, "jobs": jobs,
            "group": str(q.runId), "late_ms": [x * 1000 for x in gen.late],
            "backlog_rows": landed - committed_at_stop}


def _latency(r: dict) -> dict:
    return {"latency_p50_ms": percentile(r["lat"], 50), "latency_p90_ms": percentile(r["lat"], 90)}


def _measure(sess, env, src, meta, seconds, tracer, tag, first_id) -> tuple[list, dict, int]:
    """Backlog drains for about half of ``seconds``, then the live phase for the other half."""
    drains, failed = _backlog_loop(sess, env, src, meta, seconds, tracer, f"{tag}-backlog")
    live = _live_once(sess, env, seconds / 2, f"{tag}-live", tracer, first_id)
    return drains, live, failed + live["failed"]


def run(env, seconds: float, trace: bool) -> dict:
    sess = Session(env)
    session_s = sess.start_s
    t1 = time.perf_counter()
    src = env.path("backlog")
    meta = datagen.write_backlog(env.seed, src, BACKLOG_ROWS, BACKLOG_FILES)
    warm = env.path("warm")
    warm_meta = datagen.write_backlog(env.seed + 1, warm, WARMUP_ROWS, BACKLOG_FILES)
    datagen_s = time.perf_counter() - t1
    # warm-up: a smaller drain through the same source, transforms and sinks
    t2 = time.perf_counter()
    w = _drain(sess, env, warm, "warm", Tracer(False))
    warmup_s = time.perf_counter() - t2
    failed = int(bool(_check_drain(w, warm_meta)))

    drains, live, f = _measure(sess, env, src, meta, seconds, Tracer(False), "m", 0)
    failed += f
    e2e = {"setup_s": session_s + datagen_s + warmup_s, "peak_rss_mb": sess.peak_rss_mb(),
           "cpu_ms_per_op": sum(d["cpu_s"] for d in drains) * 1000 / sum(d["rows"] for d in drains),
           "throughput_per_s": _rows_per_s(drains), **_latency(live)}
    detail = {"etl_backlog_rows_per_s": (e2e["throughput_per_s"], "rows/s"),
              "etl_live_p50_ms": (e2e["latency_p50_ms"], "ms"),
              "etl_live_p90_ms": (e2e["latency_p90_ms"], "ms"),
              "backlog_drains": (len(drains), "count"),
              "backlog_rows_per_drain": (meta["rows"], "count"),
              "backlog_malformed_per_drain": (meta["bad"], "count"),
              "live_offered_rows_per_s": (LIVE_ROWS_PER_FILE / LIVE_INTERVAL_S, "rows/s"),
              "live_rows": (live["rows"], "count"),
              "live_batches": (len(live["progress"]), "count"),
              "live_generator_late_p90_ms": (percentile(live["late_ms"], 90), "ms"),
              "engine_session_s": (session_s, "s"), "engine_warmup_s": (warmup_s, "s")}
    res = {"attempted": 1 + len(drains) + live["landed"], "failed": failed, "e2e": e2e,
           "detail": detail, "layers": {}}
    if not trace:
        sess.stop(final=True)
        return res

    # traced run: both phases again on a context that writes an event log
    sess.stop()
    tracer = Tracer(True)
    tsess = Session(env, event_log=True)
    # the same backlog and the same live stream as the untraced measurement
    tdrains, tlive, f = _measure(tsess, env, src, meta, seconds, tracer, "t", 0)
    tsess.stop()
    # single-core baseline of the same drain
    one = Session(env, master="local[1]")
    d1 = _drain(one, env, src, "one", Tracer(False))
    f += int(bool(_check_drain(d1, meta)))
    one.stop(final=True)
    res["failed"] += f
    res["attempted"] += len(tdrains) + tlive["landed"] + 1
    groups = parse_event_log(find_event_log(env.path("eventlog")))
    btot = sum_groups(groups, [d["group"] for d in tdrains])
    ltot = sum_groups(groups, [tlive["group"]])
    tot = sum_groups(groups, [d["group"] for d in tdrains] + [tlive["group"]])
    overhead = e2e["throughput_per_s"] / _rows_per_s(tdrains) - 1
    layers = common_layers(session_s, datagen_s, warmup_s, overhead, tot, tracer)
    rows = sum(d["rows"] for d in tdrains)
    for prefix, prog, jobs in (
            ("etl_backlog", [p for d in tdrains for p in d["progress"]],
             sum(d["jobs"] for d in tdrains)),
            ("etl_live", tlive["progress"], tlive["jobs"])):
        layers.update({f"{prefix}.{k}": v for k, v in _phase_layers(prog, jobs).items()})
    layers.update({
        "etl_backlog.sinks.out_rows": median([d["out_rows"] for d in tdrains]),
        "etl_backlog.sinks.dlq_rows": median([d["dlq_rows"] for d in tdrains]),
        "etl_backlog.executor_cpu_s": btot["executor_cpu_s"] / len(tdrains),
        "etl_backlog.records_read_per_row": btot["records_read"] / rows,
        "etl_backlog.rows_per_s_1core": d1["rows"] / d1["wall"],
        "etl_live.executor_cpu_s": ltot["executor_cpu_s"],
        "etl_live.generator_late_ms": percentile(tlive["late_ms"], 90),
        "etl_live.backlog_rows": tlive["backlog_rows"],
        "etl_live.latency_p50_ms": _latency(tlive)["latency_p50_ms"],
    })
    env.write_spans(tracer)
    res["layers"] = layers
    return res

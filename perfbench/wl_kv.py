"""kv_api: the rqlite-style HTTP API in its own process
(``python -m wire_spark serve``), driven by ``nproc`` closed-loop
clients.  Each client owns a disjoint key range and replays its seeded
stream: ~88% GET via /db/query, ~10% SET/DELETE via /db/execute and ~2%
/status and /debug/vars.  Every write drops the store's resolved
snapshot, so the next GET launches a Spark job: reads beside writes are
what this workload is about.  Correctness: each GET must equal the
client's own model of its key range; any non-2xx answer is a failure.
"""

from __future__ import annotations

import http.client
import json
import os
import re
import resource
import subprocess
import sys
import threading
import time

from common import (ROOT, Tracer, children, common_layers, cpu_seconds, event_log_conf,
                    job_intervals, median, nproc, parse_event_log, peak_rss_mb, percentile,
                    process_tree, stop_process, sum_groups, tail_percentile)
import datagen

KEYS_PER_CLIENT = 100
# A run issues a fixed, seeded number of requests set by --seconds alone:
# about this many per second complete on a 4-core host with 10% writes.
NOMINAL_OPS_PER_S = 20
WARMUP_OPS_PER_CLIENT = 10    # one write per client, so reads after writes are warm too


class Service:
    """The API server as a child process in its own session."""

    def __init__(self, env, event_log: bool):
        args = [f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={env.path('tmp')}",
                f"--conf spark.sql.warehouse.dir={env.path('warehouse')}",
                "--conf spark.ui.showConsoleProgress=false"]
        if event_log:
            args += [f"--conf {k}={v}" for k, v in event_log_conf(env.path("eventlog")).items()]
        child_env = dict(os.environ, PYSPARK_SUBMIT_ARGS=" ".join(args + ["pyspark-shell"]))
        self.log = open(env.path("service.log"), "w")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "wire_spark", "serve", "--port", "0"], cwd=ROOT,
            env=child_env, stdout=subprocess.PIPE, stderr=self.log, text=True,
            start_new_session=True)
        line = self.proc.stdout.readline()
        m = re.search(r"http://127\.0\.0\.1:(\d+)", line)
        if not m:
            self.stop()
            raise RuntimeError(f"service did not start (see {env.path('service.log')}): {line!r}")
        self.port = int(m.group(1))
        self.start_s = time.perf_counter() - t0

    def rss_mb(self) -> float:
        """The service's Python and its JVM (Python workers left out)."""
        return peak_rss_mb([self.proc.pid] + children(self.proc.pid))

    def stop(self) -> None:
        stop_process(self.proc)
        self.proc.stdout.close()
        self.log.close()


def request(port: int, method: str, path: str, body=None) -> tuple[int, dict]:
    con = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        data = json.dumps(body) if body is not None else None
        con.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = con.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        con.close()


class Client(threading.Thread):
    """One closed-loop client: next request only after the last reply."""

    def __init__(self, port: int, cid: int, seed: int, n_ops: int, tracer: Tracer,
                 model: dict[str, str]):
        super().__init__(daemon=True)
        self.port, self.cid, self.tracer = port, cid, tracer
        self.ops = datagen.kv_ops(seed, cid, n_ops, KEYS_PER_CLIENT)
        self.model = model      # this client's key range as the service should hold it
        self.samples: list[tuple[str, float, float]] = []   # (kind, start, end)
        self.failed = 0
        self.errors: list[str] = []

    def one(self, op: tuple) -> None:
        kind = op[0]
        if kind == "get":
            code, body = request(self.port, "POST", "/db/query", [f"GET {op[1]}"])
            want = [[op[1], self.model[op[1]]]] if op[1] in self.model else []
            ok = code == 200 and body["results"][0].get("values", []) == want
        elif kind in ("set", "delete"):
            stmt = f"SET {op[1]} {op[2]}" if kind == "set" else f"DELETE {op[1]}"
            code, body = request(self.port, "POST", "/db/execute", [stmt])
            ok = code == 200 and body["results"] == [{"rows_affected": 1}]
            if kind == "set":
                self.model[op[1]] = op[2]
            else:
                self.model.pop(op[1], None)
        else:
            path = "/status" if kind == "status" else "/debug/vars"
            code, body = request(self.port, "GET", path)
            ok = code == 200
        if not ok:
            self.failed += 1
            self.errors.append(f"{op} -> {code} {str(body)[:200]}")

    def run(self) -> None:
        for op in self.ops:
            t0 = time.time()
            try:
                with self.tracer.span(f"api.{op[0]}", req=f"c{self.cid}"):
                    self.one(op)
            except (OSError, ValueError, KeyError, IndexError) as e:
                self.failed += 1
                self.errors.append(f"{op} -> {type(e).__name__}: {e}")
            self.samples.append((op[0], t0, time.time()))


def _preload(port: int, n_clients: int) -> list[dict[str, str]]:
    models = [{f"c{c}_k{j}": "v0" for j in range(KEYS_PER_CLIENT)} for c in range(n_clients)]
    stmts = [f"SET {k} {v}" for m in models for k, v in m.items()]
    code, body = request(port, "POST", "/db/execute", stmts)
    if code != 200 or len(body.get("results", [])) != len(stmts):
        raise RuntimeError(f"preload failed: {code} {str(body)[:200]}")
    return models


def _drive(port: int, seed: int, n_ops: int, tracer: Tracer,
           models: list[dict[str, str]]) -> tuple[list, int, list, float]:
    clients = [Client(port, c, seed, n_ops, tracer, m) for c, m in enumerate(models)]
    t0 = time.time()
    for c in clients:
        c.start()
    for c in clients:
        c.join(120)
        if c.is_alive():
            raise RuntimeError(f"client {c.cid} did not finish")
    wall = time.time() - t0
    errors = [e for c in clients for e in c.errors]
    return [s for c in clients for s in c.samples], sum(c.failed for c in clients), errors, wall


def _e2e(samples: list, wall: float) -> dict:
    ms = [(e - s) * 1000 for _, s, e in samples]
    return {"throughput_per_s": len(samples) / wall,
            "latency_p50_ms": percentile(ms, 50), "latency_p90_ms": percentile(ms, 90)}


def _by_kind(samples: list) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for kind, s, e in samples:
        out.setdefault(kind, []).append((e - s) * 1000)
    return out


def _session(env, seed: int, seconds: float, tracer: Tracer, event_log: bool) -> dict:
    svc = Service(env, event_log)
    try:
        t0 = time.perf_counter()
        models = _preload(svc.port, nproc())
        w_samples, w_failed, w_errors, _ = _drive(svc.port, seed + 1_000_003,
                                                  WARMUP_OPS_PER_CLIENT, Tracer(False), models)
        warmup_s = time.perf_counter() - t0
        cpu0 = cpu_seconds(process_tree(svc.proc.pid))
        # whole write cycles (datagen.kv_ops) per client
        n_ops = 10 * max(1, round(seconds * NOMINAL_OPS_PER_S / len(models) / 10))
        samples, failed, errors, wall = _drive(svc.port, seed, n_ops, tracer, models)
        cpu_s = cpu_seconds(process_tree(svc.proc.pid)) - cpu0
        failed += w_failed
        errors += w_errors
        rss = svc.rss_mb()
    finally:
        svc.stop()
    for e in errors[:5]:
        print(f"[kv_api] {e}")
    return {"start_s": svc.start_s, "warmup_s": warmup_s, "samples": samples,
            "attempted": len(w_samples) + len(samples), "failed": failed, "wall": wall,
            "rss": rss, "cpu_s": cpu_s}


def run(env, seconds: float, trace: bool) -> dict:
    r = _session(env, env.seed, seconds, Tracer(False), event_log=False)
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    e2e = {"setup_s": r["start_s"] + r["warmup_s"], "peak_rss_mb": r["rss"] + own,
           "cpu_ms_per_op": r["cpu_s"] * 1000 / len(r["samples"]),
           **_e2e(r["samples"], r["wall"])}
    kinds = _by_kind(r["samples"])
    reads = kinds.get("get", [])
    # the highest percentile with ten reads beyond it (p90 at about 150 reads)
    tail = tail_percentile(len(reads)) or 50.0
    detail = {"kv_ops_per_s": (e2e["throughput_per_s"], "ops/s"),
              "kv_read_p50_ms": (percentile(reads, 50), "ms"),
              f"kv_read_p{tail:g}_ms": (percentile(reads, tail), "ms"),
              "kv_write_p50_ms": (percentile(kinds.get("set", []) + kinds.get("delete", []), 50), "ms"),
              "requests": (len(r["samples"]), "count"), "reads": (len(reads), "count"),
              "clients": (nproc(), "count"),
              "engine_session_s": (r["start_s"], "s"), "engine_warmup_s": (r["warmup_s"], "s")}
    res = {"attempted": r["attempted"], "failed": r["failed"], "e2e": e2e,
           "detail": detail, "layers": {}}
    if not trace:
        return res

    # a second service, warmed up the same way, replays the same streams
    tracer = Tracer(True)
    t = _session(env, env.seed, seconds, tracer, event_log=True)
    res["attempted"] += t["attempted"]
    res["failed"] += t["failed"]
    log_dir = env.path("eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one service event log, found {logs}")
    groups = parse_event_log(logs[0])
    tot = sum_groups(groups, list(groups))
    jobs = job_intervals(logs[0])
    t_lo = min(s for _, s, _ in t["samples"])
    t_hi = max(e for _, _, e in t["samples"])
    in_window = [(a, b) for a, b in jobs if a >= t_lo and b <= t_hi]
    kinds = _by_kind(t["samples"])
    nojob = [(e - s) * 1000 for k, s, e in t["samples"]
             if k == "get" and not any(a < e and b > s for a, b in jobs)]
    overhead = _e2e(r["samples"], r["wall"])["throughput_per_s"] / \
        _e2e(t["samples"], t["wall"])["throughput_per_s"] - 1
    layers = common_layers(t["start_s"], 0.0, t["warmup_s"], overhead, tot, tracer)
    reads = kinds.get("get", [])
    layers.update({
        "kv.jobs": len(in_window),
        "kv.jobs_per_op": len(in_window) / len(t["samples"]),
        "kv.job_busy_s": sum(b - a for a, b in in_window),
        "api.read_nojob_p50_ms": percentile(nojob, 50) if nojob else 0.0,
        "api.read_p50_ms": percentile(reads, 50),
        "api.read_tail_ms": percentile(reads, tail),
        "api.write_p50_ms": percentile(kinds.get("set", []) + kinds.get("delete", []), 50),
        "api.status_p50_ms": median(kinds["status"]) if "status" in kinds else 0.0,
        "api.debug_vars_p50_ms": median(kinds["debug_vars"]) if "debug_vars" in kinds else 0.0,
    })
    env.write_spans(tracer)
    res["layers"] = layers
    return res


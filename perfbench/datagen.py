"""Seeded input generators.  Pure Python/NumPy: no Spark, no wire_spark.

The same seed always yields byte-identical inputs, so a run can be
repeated exactly and two commits can be measured on the same data.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word list of the synthetic corpus (the shape of the repo's TPC-H-ish
# test data: short documents over a small vocabulary, so 3-word
# shingles are shared and near-duplicates exist).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so adding a table does not
    # shift the draws of another
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _days(rng, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def catalog_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten catalog tables (`wire_spark.engine.TABLES`) at about
    ``scale`` times TPC-H sf1 row counts."""
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })

    r = _rng(seed, "part")
    adj = np.array(["small", "large", "red", "hot", "old", "new", "blue", "green"])
    noun = np.array(["ring", "plate", "widget", "rod", "bolt", "gear", "pipe", "valve"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(r.choice(adj, n_part), " "), r.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(0, 25, n_part).astype(str)),
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, dt.date(1995, 1, 2), 2499, n_line),
    })

    r = _rng(seed, "events")
    gaps = r.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
    })

    r = _rng(seed, "documents")
    # Every 16th document is an original plus one appended word (3-shingle
    # Jaccard (n-2)/n >= 0.8 for n >= 10 words), of a distinct original,
    # so every seed has the same number of near-dup pairs and the same
    # two-node components: the work of the near-dup queries does not
    # depend on the seed, only the text does.
    n_dups = n_doc // 16
    originals = iter(r.permutation([i for i in range(n_doc) if i % 16 != 15])[:n_dups])
    texts: list[str] = [""] * n_doc
    for i in range(n_doc):
        if i % 16 != 15:
            texts[i] = " ".join(r.choice(VOCAB, int(r.integers(10, 100))))
    for i in range(15, n_doc, 16):
        texts[i] = texts[int(next(originals))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(size=(10, 64))
    v = r.normal(size=(n_emb, 64)) + 0.15 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_catalog(seed: int, sf_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the catalog tables as ``<sf_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------
# ETL: nested JSON-lines event log with an exact number of bad records
# --------------------------------------------------------------------

_BAD_KINDS = ("truncated", "garbage", "bad_time")


def gen_id(i: int) -> str:
    return f"g{i:08d}"


def etl_record(rng: random.Random, i: int, created_ms: int) -> dict:
    """One well-formed nested record.  ``eventTime`` is last, so a
    record truncated anywhere before its end has no event time."""
    return {
        "id": gen_id(i),
        "created_ms": created_ms,
        "user": {"name": f"user_{rng.randrange(500)}",
                 "tags": rng.sample(VOCAB, rng.randrange(3)),
                 "vip": rng.random() < 0.1},
        "items": [{"sku": f"sku-{rng.randrange(1000)}", "qty": rng.randrange(1, 5),
                   "note": None} for _ in range(rng.randrange(1, 4))],
        "amount": round(rng.expovariate(1 / 40.0), 2),
        "eventTime": (dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                      + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }


def etl_line(rng: random.Random, i: int, created_ms: int, bad: bool) -> str:
    rec = etl_record(rng, i, created_ms)
    if not bad:
        return json.dumps(rec, separators=(",", ":"))
    kind = _BAD_KINDS[i % len(_BAD_KINDS)]
    if kind == "bad_time":
        rec["eventTime"] = "not-a-time"
        return json.dumps(rec, separators=(",", ":"))
    text = json.dumps(rec, separators=(",", ":"))
    if kind == "truncated":
        return text[: text.index('"eventTime"') - 1]
    return f"#corrupt {gen_id(i)} ~~{text[5:40]}"


def etl_rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}/{stream}")


def bad_positions(seed: int, n: int, share: float = 0.02) -> set[int]:
    """Exactly ``round(share * n)`` distinct record positions."""
    k = int(round(share * n))
    return set(_rng(seed, "etl-bad").choice(n, size=k, replace=False).tolist())


def write_backlog(seed: int, path: str, n_rows: int, n_files: int) -> dict:
    """Write ``n_rows`` JSON lines over ``n_files`` files; about 2% are
    malformed.  Returns counts for the correctness check."""
    os.makedirs(path, exist_ok=True)
    bad = bad_positions(seed, n_rows)
    rng = etl_rng(seed, "backlog")
    per = -(-n_rows // n_files)
    for f in range(n_files):
        lo, hi = f * per, min(n_rows, (f + 1) * per)
        with open(os.path.join(path, f"part-{f:05d}.json"), "w") as fh:
            fh.writelines(etl_line(rng, i, 0, i in bad) + "\n" for i in range(lo, hi))
    return {"rows": n_rows, "bad": len(bad), "files": n_files}


# --------------------------------------------------------------------
# KV: per-client operation streams over disjoint key ranges
# --------------------------------------------------------------------

def kv_ops(seed: int, client: int, n_ops: int, keys_per_client: int) -> list[tuple]:
    """A client's operation stream over keys ``c<client>_k<j>``, disjoint
    across clients.  The mix is fixed by position, so every prefix has
    the same shares: every 10th request writes (SET or DELETE), every
    50th is an admin read (/status and /debug/vars in turn), the rest
    are GETs, about 88/10/2.  The seed picks keys, values, SET versus
    DELETE and the client's phase within the cycle."""
    rng = etl_rng(seed, f"kv-client-{client}")
    phase = rng.randrange(50)
    ops: list[tuple] = []
    for i in range(phase, phase + n_ops):
        key = f"c{client}_k{rng.randrange(keys_per_client)}"
        if i % 50 == 25:
            ops.append(("status",) if (i // 50) % 2 == 0 else ("debug_vars",))
        elif i % 10 == 9:
            ops.append(("set", key, f"v{rng.randrange(1_000_000)}") if rng.random() < 0.6
                       else ("delete", key))
        else:
            ops.append(("get", key))
    return ops

"""Self-tests of the benchmark's pure helpers (no JVM needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from common import (Tracer, job_intervals, parse_event_log, percentile,  # noqa: E402
                    read_spans, sum_groups, tail_percentile)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_event_log_parser_groups_task_metrics_by_job_group():
    groups = parse_event_log(os.path.join(HERE, "fixtures", "eventlog_small.json"))
    q = groups["m:q18_large_orders:0"]
    assert q["jobs"] == 2 and q["stages"] == 3 and q["tasks"] == 4
    assert q["executor_cpu_s"] == pytest.approx(0.2)
    assert q["executor_run_s"] == pytest.approx(0.26)
    assert q["gc_s"] == pytest.approx(0.005)
    assert q["shuffle_write_bytes"] == 3072 and q["shuffle_read_bytes"] == 3100
    assert q["spill_bytes"] == 768 and q["records_read"] == 500
    other = groups[""]
    assert (other["jobs"], other["tasks"], other["records_read"]) == (1, 1, 7)
    tot = sum_groups(groups, ["m:q18_large_orders:0", "", "absent"])
    assert tot["jobs"] == 3 and tot["tasks"] == 5
    jobs = job_intervals(os.path.join(HERE, "fixtures", "eventlog_small.json"))
    assert jobs == [(1.0, 1.75), (2.0, 2.1), (3.0, 3.25)]


@pytest.mark.parametrize("n,expected", [(0, None), (19, None), (20, 50.0), (99, 50.0),
                                        (100, 90.0), (200, 95.0), (999, 95.0),
                                        (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50 and percentile(xs, 90) == 90 and percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        percentile([], 50)


def test_backlog_is_deterministic_with_exact_malformed_count(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    meta = datagen.write_backlog(5, str(a), 1000, 4)
    datagen.write_backlog(5, str(b), 1000, 4)
    datagen.write_backlog(6, str(c), 1000, 4)
    files = sorted(os.listdir(a))
    assert files == sorted(os.listdir(b)) and len(files) == 4
    assert all((a / f).read_bytes() == (b / f).read_bytes() for f in files)
    assert any((a / f).read_bytes() != (c / f).read_bytes() for f in files)
    lines = [line for f in files for line in (a / f).read_text().splitlines()]
    assert len(lines) == meta["rows"] == 1000

    def has_event_time(line):
        try:
            t = json.loads(line).get("eventTime", "")
        except ValueError:
            return False
        return t.startswith("2024-")

    assert sum(not has_event_time(line) for line in lines) == meta["bad"] == 20
    ids = [datagen.gen_id(i) for i in range(1000)]
    assert all(i in line for i, line in zip(ids, lines))


def test_catalog_tables_are_deterministic_per_seed():
    a, b, c = (datagen.catalog_tables(s, scale=0.001) for s in (3, 3, 4))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["documents"].num_rows == 50 and a["lineitem"].num_rows == 6000


def test_kv_streams_have_a_fixed_mix_and_disjoint_keys():
    ops0 = datagen.kv_ops(9, 0, 500, 100)
    assert ops0 == datagen.kv_ops(9, 0, 500, 100) != datagen.kv_ops(10, 0, 500, 100)
    for prefix in (50, 100, 500):
        kinds = [o[0] for o in ops0[:prefix]]
        assert kinds.count("set") + kinds.count("delete") == prefix // 10
        assert kinds.count("status") + kinds.count("debug_vars") == prefix // 50
    keys1 = {o[1] for o in datagen.kv_ops(9, 1, 500, 100) if len(o) > 1}
    assert keys1 and not keys1 & {o[1] for o in ops0 if len(o) > 1}


def test_span_file_round_trip(tmp_path):
    tr = Tracer(True)
    with tr.span("outer", req="r1"):
        with tr.span("inner"):
            pass
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    spans = read_spans(str(path))
    assert [s["name"] for s in spans] == ["outer", "inner"]
    assert spans[1]["parent"] == 0 and spans[1]["req"] == "r1"

    span = {"id": 1, "name": "construct", "parent": None, "req": "a", "start": 1.0, "end": 4.0}
    path.write_text(json.dumps({**span, "parent": 7}) + "\n")
    with pytest.raises(ValueError):
        read_spans(str(path))
    path.write_text(json.dumps({**span, "end": None}) + "\n")
    with pytest.raises(ValueError):
        read_spans(str(path))


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []

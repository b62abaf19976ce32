"""Repo tooling: every script under tools/ and bench.py imports
cleanly, and the config sweep's summary ignores errored passes."""

from __future__ import annotations

import importlib
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MODULES = ["bench"] + sorted(
    f"tools.{f[:-3]}" for f in os.listdir(os.path.join(_ROOT, "tools"))
    if f.endswith(".py")
)


@pytest.mark.parametrize("module", _MODULES)
def test_module_imports(module):
    importlib.import_module(module)


def test_config_sweep_best_totals_skips_errored_passes():
    from tools.config_sweep import best_totals

    runs = [
        # a partly failed pass sums fewer queries and must not win
        {"config": "a", "total": 1.0, "queries": {"q1": 1.0, "q2": -1.0}},
        {"config": "a", "total": 3.0, "queries": {"q1": 1.0, "q2": 2.0}},
        {"config": "a", "total": 2.5, "queries": {"q1": 1.0, "q2": 1.5}},
        # no clean pass: errored, not 0.0
        {"config": "b", "total": 0.0, "queries": {"q1": -1.0, "q2": -1.0}},
        {"config": "b", "total": 1.0, "queries": {"q1": 1.0, "q2": -1.0}},
    ]
    assert best_totals(runs) == {"a": 2.5, "b": -1.0}

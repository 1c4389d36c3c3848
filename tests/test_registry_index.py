"""REGISTRY_INDEX.json must always equal what the generator derives
from the live REGISTRY + bench sets (r13, VERDICT r12 item 7): the
manifest is only useful if it can never drift from the code."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def test_registry_index_in_sync():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from gen_registry_index import build_index

    with open(os.path.join(REPO, "REGISTRY_INDEX.json")) as f:
        committed = json.load(f)
    live = build_index()
    assert committed["n_entries"] == len(live), (
        "entry count drifted — re-run tools/gen_registry_index.py"
    )
    assert committed["entries"] == live, (
        "REGISTRY_INDEX.json out of sync with REGISTRY — re-run "
        "tools/gen_registry_index.py"
    )


def test_registry_index_invariants():
    """Every entry points at a real file:line and has a full oracle
    (a rows-only entry would be a deliberate, documented exception)."""
    with open(os.path.join(REPO, "REGISTRY_INDEX.json")) as f:
        idx = json.load(f)["entries"]
    assert len(idx) >= 266
    for name, e in idx.items():
        path, line = e["src"].rsplit(":", 1)
        assert os.path.exists(os.path.join(REPO, path)), (name, path)
        assert int(line) > 0
        assert e["oracle"] == "full", (
            f"{name}: rows-only entries must be explicitly "
            "documented in COVERAGE.md before relaxing this"
        )


def test_plan_pins_credit_module_constants_to_their_reader():
    """An entry named in a module-level constant of tests/test_plans.py
    is pinned by the test that reads the constant, not by the test that
    happens to precede it in the file."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from gen_registry_index import _plan_pins

    from tests.test_plans import _SINGLE_PARTITION_ALLOWED

    bodies = _plan_pins()
    reader = bodies["test_headline_single_partition_budget"]
    before = bodies["test_ivf_pq_adc_no_corpus_shuffle"]
    for name in _SINGLE_PARTITION_ALLOWED:
        assert f'"{name}"' in reader, name
        assert f'"{name}"' not in before, name

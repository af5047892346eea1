"""Pure-python guards for the SCALING.md generator.

The regen chain runs scripts/scaling_report.py last — a crash there
loses an hour of measurements, so the degenerate-record paths that
ADVICE rounds flagged get direct tests (no Spark, no fixtures on
disk: _load is monkeypatched). SCALING.md itself must be exactly the
generator's output over the committed records, so hand edits to it
(or generator edits without a regeneration) fail here."""

from __future__ import annotations

import importlib.util
import os
import sys


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_module():
    path = os.path.join(ROOT, "scripts", "scaling_report.py")
    spec = importlib.util.spec_from_file_location("scaling_report_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _fake_bucketed_record(wall_save: float, shuf_save: float) -> dict:
    q = {
        "query": "q_fake",
        "parquet": {"wall_sec": 1.0 + wall_save, "shuffle_write_mb": 100.0 + shuf_save,
                    "shuffle_exchanges": 2},
        "bucketed": {"wall_sec": 1.0, "shuffle_write_mb": 100.0, "shuffle_exchanges": 0},
    }
    return {
        "families": [
            {
                "family": "fake_family",
                "tiers": [
                    {
                        "tier": "gen_sf1",
                        "bucketed_write": {"wall_sec": 30.0, "shuffle_write_mb": 400.0},
                        "queries": [q],
                    }
                ],
            }
        ]
    }


def test_breakeven_renders_na_when_no_saving_clears_the_floors():
    """ADVICE r11 #1: a tier where no query saves more than 0.05 s /
    5% of the write's shuffle must render an honest 'n/a' line, not
    crash SCALING.md regeneration with IndexError/ValueError."""
    mod = _load_module()
    record = _fake_bucketed_record(wall_save=0.01, shuf_save=0.5)
    mod._load = lambda name: record if name == "BUCKETED_BENCH.json" else None
    lines = mod._bucketed_section()
    text = "\n".join(lines)
    assert "break-even n/a" in text
    assert "fake_family" in text


def test_breakeven_still_computes_when_savings_clear_the_floors():
    mod = _load_module()
    record = _fake_bucketed_record(wall_save=2.0, shuf_save=350.0)
    mod._load = lambda name: record if name == "BUCKETED_BENCH.json" else None
    text = "\n".join(mod._bucketed_section())
    assert "break-even n/a" not in text
    # write 30 s / 2 s saved = 15 executions; 400 MB / 350 MB = ~1
    assert "**~15-15 executions**" in text
    assert "**~1-1 executions**" in text


def test_scaling_md_matches_generator():
    with open(os.path.join(ROOT, "SCALING.md")) as f:
        committed = f.read()
    assert _load_module().render() == committed, (
        "SCALING.md is stale: run python scripts/scaling_report.py"
    )

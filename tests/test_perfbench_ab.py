"""The A/B tool's claim rule: a gain holds only when every run is
correct, the change fails no larger share of operations, it wins at
least 9 of every 10 pairs, and its median gap exceeds the parent's IQR.
Pure Python; no Spark and no benchmark run."""

from __future__ import annotations

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parents[1] / "tools" / "perfbench_ab.py"
_spec = importlib.util.spec_from_file_location("perfbench_ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(cpu, correct=True, failed=0.0):
    return {"op_cpu_ms": cpu, "setup_s": 0.5, "correct": correct,
            "failed_ops_ratio": failed}


def _pairs(parent, change, **change_kw):
    return [{"parent": _run(p), "change": _run(c, **change_kw)}
            for p, c in zip(parent, change)]


PARENT = [700, 710, 720, 730, 740, 750, 760, 770, 780, 790]
FASTER = [600] * 10


def test_claim_holds_for_a_clean_gain():
    s = ab.summarize(_pairs(PARENT, FASTER))
    assert s["change_wins"] == 10 and s["all_correct"]
    assert s["failed_ops_ratio"] == {"parent": 0.0, "change": 0.0}
    assert s["claim_holds"]


def test_claim_needs_every_run_correct():
    s = ab.summarize(_pairs(PARENT, FASTER, correct=False))
    assert s["change_wins"] == 10 and not s["all_correct"]
    assert not s["claim_holds"]


def test_claim_needs_no_more_failed_ops_than_parent():
    s = ab.summarize(_pairs(PARENT, FASTER, failed=0.1))
    assert s["failed_ops_ratio"]["change"] > s["failed_ops_ratio"]["parent"]
    assert not s["claim_holds"]


def test_claim_needs_nine_wins_in_ten_and_gap_over_iqr():
    eight_wins = FASTER[:8] + [800, 800]
    assert not ab.summarize(_pairs(PARENT, eight_wins))["claim_holds"]
    small_gap = [p - 1 for p in PARENT]
    s = ab.summarize(_pairs(PARENT, small_gap))
    assert s["change_wins"] == 10 and s["median_gap"] < s["parent_iqr"]
    assert not s["claim_holds"]


def test_parse_seeds():
    assert ab.parse_seeds("41-44,51") == [41, 42, 43, 44, 51]

"""The A/B tool's claim rule, applied to each gated metric on its own: a
gain holds only when every run is correct, the change fails no larger
share of operations, it wins at least 9 of every 10 pairs on that
metric, and its median gap on that metric exceeds the parent's IQR.
Pure Python; no Spark and no benchmark run."""

from __future__ import annotations

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parents[1] / "tools" / "perfbench_ab.py"
_spec = importlib.util.spec_from_file_location("perfbench_ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(cpu, setup=0.5, correct=True, failed=0.0, setup_wall=0.4):
    return {"op_cpu_ms": cpu, "setup_s": setup, "setup_wall_s": setup_wall,
            "correct": correct, "failed_ops_ratio": failed}


def _pairs(parent, change, parent_setup=None, change_setup=None,
           **change_kw):
    n = len(parent)
    parent_setup = parent_setup or [0.5] * n
    change_setup = change_setup or [0.5] * n
    return [{"parent": _run(p, ps), "change": _run(c, cs, **change_kw)}
            for p, c, ps, cs in zip(parent, change, parent_setup,
                                    change_setup)]


PARENT = [700, 710, 720, 730, 740, 750, 760, 770, 780, 790]
FASTER = [600] * 10
PARENT_SETUP = [0.43, 0.44, 0.45, 0.46, 0.46, 0.47, 0.47, 0.48, 0.49, 0.50]
FASTER_SETUP = [0.30] * 10


def test_claim_holds_for_a_clean_gain():
    s = ab.summarize(_pairs(PARENT, FASTER))
    assert s["op_cpu_ms"]["change_wins"] == 10 and s["all_correct"]
    assert s["failed_ops_ratio"] == {"parent": 0.0, "change": 0.0}
    assert s["op_cpu_ms"]["claim_holds"]


def test_claim_needs_every_run_correct():
    s = ab.summarize(_pairs(PARENT, FASTER, PARENT_SETUP, FASTER_SETUP,
                            correct=False))
    assert s["op_cpu_ms"]["change_wins"] == 10 and not s["all_correct"]
    assert s["setup_s"]["change_wins"] == 10
    assert not s["op_cpu_ms"]["claim_holds"]
    assert not s["setup_s"]["claim_holds"]


def test_claim_needs_no_more_failed_ops_than_parent():
    s = ab.summarize(_pairs(PARENT, FASTER, PARENT_SETUP, FASTER_SETUP,
                            failed=0.1))
    assert s["failed_ops_ratio"]["change"] > s["failed_ops_ratio"]["parent"]
    assert not s["op_cpu_ms"]["claim_holds"]
    assert not s["setup_s"]["claim_holds"]


def test_claim_needs_nine_wins_in_ten_and_gap_over_iqr():
    eight_wins = FASTER[:8] + [800, 800]
    s = ab.summarize(_pairs(PARENT, eight_wins))
    assert s["op_cpu_ms"]["change_wins"] == 8
    assert not s["op_cpu_ms"]["claim_holds"]
    small_gap = [p - 1 for p in PARENT]
    s = ab.summarize(_pairs(PARENT, small_gap))
    m = s["op_cpu_ms"]
    assert m["change_wins"] == 10 and m["median_gap"] < m["parent_iqr"]
    assert not m["claim_holds"]


def test_claim_is_judged_per_metric():
    """A ``setup_s`` gain holds on its own wins and IQR, and says
    nothing about ``op_cpu_ms``, and the other way round."""
    s = ab.summarize(_pairs(PARENT, PARENT, PARENT_SETUP, FASTER_SETUP))
    assert s["setup_s"]["change_wins"] == 10
    assert s["setup_s"]["median_gap"] > s["setup_s"]["parent_iqr"]
    assert s["setup_s"]["claim_holds"]
    assert s["op_cpu_ms"]["change_wins"] == 0
    assert not s["op_cpu_ms"]["claim_holds"]
    eight_wins = FASTER_SETUP[:8] + [0.6, 0.6]
    s = ab.summarize(_pairs(PARENT, FASTER, PARENT_SETUP, eight_wins))
    assert s["op_cpu_ms"]["claim_holds"]
    assert s["setup_s"]["change_wins"] == 8
    assert not s["setup_s"]["claim_holds"]
    small_gap = [p - 0.001 for p in PARENT_SETUP]
    s = ab.summarize(_pairs(PARENT, FASTER, PARENT_SETUP, small_gap))
    assert s["setup_s"]["change_wins"] == 10
    assert s["setup_s"]["median_gap"] < s["setup_s"]["parent_iqr"]
    assert not s["setup_s"]["claim_holds"]
    assert s["setup_s"]["median_change_pct"] < 0


def test_parse_seeds():
    assert ab.parse_seeds("41-44,51") == [41, 42, 43, 44, 51]


def test_report_lines_show_setup_wall_median_outside_the_claim():
    """Each side's median ``setup_wall_s`` is printed, and a wall-time
    gap alone claims nothing."""
    runs = _pairs(PARENT, PARENT)
    for i, r in enumerate(runs):
        r["parent"]["setup_wall_s"] = 0.60 + i / 100
        r["change"]["setup_wall_s"] = 0.30
    s = ab.summarize(runs)
    assert s["setup_wall_s"] == {"parent": 0.645, "change": 0.30}
    assert not s["setup_s"]["claim_holds"]
    assert ab.report(s) == [
        "parent op_cpu_ms median 745.000 quartiles 717.500/772.500",
        "parent setup_s   median 0.500 quartiles 0.500/0.500",
        "change op_cpu_ms median 745.000 quartiles 717.500/772.500",
        "change setup_s   median 0.500 quartiles 0.500/0.500",
        "setup_wall_s median parent 0.645 change 0.300 "
        "(reported, not claimed)",
        "failed_ops_ratio mean parent 0 change 0; all correct True",
        "op_cpu_ms: parent IQR 55.000; median gap 0.000 (-0.0 %); "
        "change wins 0/10; claim holds False",
        "setup_s: parent IQR 0.000; median gap 0.000 (-0.0 %); "
        "change wins 0/10; claim holds False",
    ]

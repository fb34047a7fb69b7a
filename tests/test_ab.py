"""tools/ab.py's summary over canned benchmark records (no Spark)."""

from __future__ import annotations

import pytest

from tools.ab import format_rows, summarize

METRICS = [
    {"name": "op_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
]


def _rec(side, pair, op_s, rows_per_s, failed=0):
    return {"side": side, "pair": pair, "result": {
        "correct": True, "attempted": 2, "failed": failed,
        "metrics": {"op_s": {"value": op_s, "unit": "s"},
                    "rows_per_s": {"value": rows_per_s, "unit": "1/s"}}}}


def test_summary_medians_iqr_wins_and_failed():
    records = [
        _rec("base", 1, 10.0, 100.0), _rec("head", 1, 9.0, 110.0),
        _rec("head", 2, 12.0, 90.0), _rec("base", 2, 11.0, 95.0, failed=1),
        _rec("base", 3, 12.0, 90.0), _rec("head", 3, 12.0, 92.0),
        _rec("head", 4, 8.0, 120.0), _rec("base", 4, 13.0, 80.0),
        _rec("base", 5, 14.0, 70.0),  # no head run: not a pair
    ]
    op, rps = summarize(records, METRICS)
    # pairs 1-4; base op_s 10, 11, 12, 13 → median 11.5, IQR 12.25 − 10.75
    assert (op["pairs"], op["base"], op["head"]) == (4, 11.5, 10.5)
    assert op["base_iqr"] == pytest.approx(1.5)
    assert op["wins"] == 2                  # pairs 1 and 4; pair 3 ties
    assert op["worse"] == pytest.approx(-1.0 / 11.5)
    assert (op["failed_base"], op["failed_head"]) == (1, 0)
    # higher is better: base 100, 95, 90, 80 → 92.5; head 110, 90, 92, 120 → 101
    assert (rps["base"], rps["head"], rps["wins"]) == (92.5, 101.0, 3)
    assert rps["worse"] == pytest.approx(-8.5 / 92.5)
    assert rps["bound"] == 0.25
    assert format_rows("w", [op, rps]).count("\n") == 2


def test_summary_reports_a_regression_as_positive_worse():
    records = [_rec("base", 1, 10.0, 100.0), _rec("head", 1, 13.0, 70.0)]
    op, rps = summarize(records, METRICS)
    assert op["worse"] == pytest.approx(0.3) and rps["worse"] == pytest.approx(0.3)
    assert op["wins"] == rps["wins"] == 0 and op["base_iqr"] == 0.0


def test_verdict_unresolved_when_base_spread_exceeds_bound():
    # base op_s 10, 20, 14 → median 14, IQR 5 > 0.25 × 14; the head
    # beats the median but not every base run → unresolved
    records = [_rec("base", 1, 10.0, 100.0), _rec("head", 1, 12.0, 101.0),
               _rec("base", 2, 20.0, 99.0), _rec("head", 2, 11.0, 100.0),
               _rec("base", 3, 14.0, 100.0), _rec("head", 3, 12.0, 100.0)]
    op, rps = summarize(records, METRICS)
    assert op["base_iqr"] == pytest.approx(5.0) and op["verdict"] == "unresolved"
    assert rps["verdict"] == "ok"           # rows_per_s spread 1 of 100
    # every head run beats every base run: resolved despite the spread
    fast = [r if r["side"] == "base" else _rec("head", r["pair"], 9.0, 100.0)
            for r in records]
    assert summarize(fast, METRICS)[0]["verdict"] == "ok"
    assert format_rows("w", [op, rps]).splitlines()[1].endswith("unresolved")


def test_verdict_worse_past_bound_with_tight_base():
    records = [_rec("base", 1, 10.0, 100.0), _rec("head", 1, 12.0, 70.0),
               _rec("base", 2, 10.0, 100.0), _rec("head", 2, 13.0, 80.0)]
    op, rps = summarize(records, METRICS)
    # op_s +25% is at the bound, not past it; rows_per_s −25% likewise;
    # a third head run pushes both past it
    assert (op["verdict"], rps["verdict"]) == ("ok", "ok")
    records += [_rec("base", 3, 10.0, 100.0), _rec("head", 3, 14.0, 60.0)]
    op, rps = summarize(records, METRICS)
    assert op["worse"] == pytest.approx(0.3) and rps["worse"] == pytest.approx(0.3)
    assert (op["verdict"], rps["verdict"]) == ("worse", "worse")

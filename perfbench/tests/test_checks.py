"""The keyed row comparison of the batch check, and its tolerance for
values the pipeline rounds."""

from __future__ import annotations

from perfbench import checks

KEYS = ["location_id", "recorded_date"]


def _want(speed, raw):
    return [{"location_id": "L1", "recorded_date": "2024-03-01",
             "avg_daily_speed": speed, "raw_avg_daily_speed": raw}]


def _got(speed):
    return [{"location_id": "L1", "recorded_date": "2024-03-01",
             "avg_daily_speed": speed}]


def test_rounded_value_must_match_off_a_midpoint():
    assert checks.compare_rows(_got(18.8), _want(18.8, 18.83), KEYS) is None
    err = checks.compare_rows(_got(18.9), _want(18.8, 18.83), KEYS)
    assert err and err.startswith("avg_daily_speed")


def test_rounded_value_may_take_either_side_of_a_midpoint():
    # 18.85 summed in another order reads 18.849999999999998 in one
    # engine and rounds down there, up in the other
    assert checks.compare_rows(_got(18.9), _want(18.8, 18.849999999999998),
                               KEYS) is None
    err = checks.compare_rows(_got(19.0), _want(18.8, 18.849999999999998), KEYS)
    assert err and err.startswith("avg_daily_speed")


def test_unrounded_values_compare_to_1e9():
    want = [{"k": 1, "v": 2.0}]
    assert checks.compare_rows([{"k": 1, "v": 2.0 + 1e-10}], want, ["k"]) is None
    assert checks.compare_rows([{"k": 1, "v": 2.0 + 1e-7}], want, ["k"])
    assert checks.compare_rows([{"k": 2, "v": 2.0}], want, ["k"]).startswith(
        "missing key")

"""bench_tools/ab.py: seed lists, the per-metric claim rule (wins in
at least 9 of 10 pairs run, ties counting for neither, a median gain
larger than the base's interquartile range, and no more failed runs than
the base) and the no-regression verdict under a metric's bound."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "bench_tools"))

import ab  # noqa: E402


def _pairs(base, change, name="read_s_p50"):
    return [
        {"base": {"metrics": {name: b}}, "change": {"metrics": {name: c}}}
        for b, c in zip(base, change)
    ]


def test_parse_seeds():
    assert ab.parse_seeds("401-403,409") == [401, 402, 403, 409]
    assert ab.parse_seeds("7") == [7]


def test_claim_rule():
    base = [0.30, 0.31, 0.29, 0.32, 0.30, 0.31, 0.33, 0.30, 0.29, 0.31]
    faster = [b - 0.05 for b in base]
    m = ab.compare(_pairs(base, faster), {"read_s_p50": "lower"})["read_s_p50"]
    assert m["wins"] == 10 and m["claim"]
    assert m["median_gain"] > m["base_iqr"]

    # one tie and one loss: 8 of 10 wins is below the rule
    mixed = faster[:8] + [base[8], base[9] + 0.01]
    assert not ab.compare(_pairs(base, mixed), {"read_s_p50": "lower"})["read_s_p50"]["claim"]

    # every pair won, but by less than the base's own spread
    tiny = [b - 0.001 for b in base]
    m = ab.compare(_pairs(base, tiny), {"read_s_p50": "lower"})["read_s_p50"]
    assert m["wins"] == 10 and not m["claim"]

    # 'higher is better' metrics flip the sign
    m = ab.compare(_pairs([100] * 10, [120] * 10, "rows_per_s"), {"rows_per_s": "higher"})
    assert m["rows_per_s"]["wins"] == 10 and m["rows_per_s"]["claim"]


def test_failed_change_runs_count_as_losses():
    # three of ten change runs errored, timed out or were incorrect: the
    # seven clean wins are counted over all ten pairs, below the rule
    base = [0.30, 0.31, 0.29, 0.32, 0.30, 0.31, 0.33, 0.30, 0.29, 0.31]
    pairs = _pairs(base, [b - 0.1 for b in base])
    pairs[1]["change"] = {"error": "timeout"}
    pairs[4]["change"] = {"error": "Traceback"}
    pairs[7]["change"]["correct"] = False
    m = ab.compare(pairs, {"read_s_p50": "lower"})["read_s_p50"]
    assert m["pairs"] == 10 and m["wins"] == 7 and not m["claim"]
    assert m["failed_runs"] == {"base": 0, "change": 3}

    # one failed change run still allows 9 of 10, but not more failures
    # than the base had
    pairs = _pairs(base, [b - 0.1 for b in base])
    pairs[3]["change"]["failed"] = 2
    m = ab.compare(pairs, {"read_s_p50": "lower"})["read_s_p50"]
    assert m["wins"] == 9 and not m["claim"]
    pairs[5]["base"]["correct"] = False
    assert ab.compare(pairs, {"read_s_p50": "lower"})["read_s_p50"]["claim"]


def test_no_regression_verdict():
    base = [0.30, 0.31, 0.29, 0.32, 0.30, 0.31, 0.33, 0.30, 0.29, 0.31]
    bound = {"read_s_p50": 0.25}

    def v(change, b=base, name="read_s_p50", better="lower"):
        m = ab.compare(_pairs(b, change, name), {name: better}, {name: 0.25})[name]
        return m["verdict"]

    # tight base spread: a 10% slowdown is within the 25% bound, 40% is not
    assert v([x * 1.10 for x in base]) == "within bound"
    assert v([x * 1.40 for x in base]) == "worse"
    assert v([x * 0.80 for x in base]) == "within bound"

    # the base's IQR (0.2 -> 0.6 around 0.4) is wider than the bound: a
    # small shift cannot be told from noise ...
    wide = [0.2, 0.6, 0.3, 0.5, 0.4, 0.2, 0.6, 0.4, 0.3, 0.5]
    assert v([x * 1.05 for x in wide], wide) == "unresolved"
    assert v([x * 0.90 for x in wide], wide) == "unresolved"
    # ... unless every change run beats every base run
    assert v([0.15] * 10, wide) == "within bound"
    # a median shift past the bound is 'worse' whatever the spread
    assert v([x * 1.5 for x in wide], wide) == "worse"

    # 'higher is better' flips the direction of the shift
    assert v([70] * 10, [100] * 10, "rows_per_s", "higher") == "worse"
    assert v([130] * 10, [100] * 10, "rows_per_s", "higher") == "within bound"

    # the verdict sits next to the claim, only for metrics with a bound
    m = ab.compare(_pairs(base, base), {"read_s_p50": "lower"}, bound)["read_s_p50"]
    assert m["verdict"] == "within bound" and not m["claim"]
    assert "verdict" not in ab.compare(_pairs(base, base), {"read_s_p50": "lower"})["read_s_p50"]

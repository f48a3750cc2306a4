"""bench_tools/ab.py: seed lists and the per-metric claim rule (wins in
at least 9 of 10 pairs run, ties counting for neither, a median gain
larger than the base's interquartile range, and no more failed runs than
the base)."""

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

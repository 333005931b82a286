"""tools/abba.py without Spark: the ABBA run order and the verdict rule,
driven by a stub runner."""

import json

from tools import abba


def test_pairs_alternate_which_side_runs_first():
    calls = []

    def runner(side):
        calls.append(side)
        return {"side": side, "n": len(calls)}

    runs = abba.run_pairs(runner, 4)
    assert calls == ["parent", "change", "change", "parent"] * 2
    assert [(r["parent"]["n"], r["change"]["n"]) for r in runs] == [
        (1, 2), (4, 3), (5, 6), (8, 7)]


def test_gain_needs_nine_of_ten_wins_and_a_gap_above_the_parent_iqr():
    parent = [2.0, 2.1, 1.9, 2.0, 2.2, 1.8, 2.0, 2.1, 1.9, 2.0]
    change = [p + 0.5 for p in parent]
    row = abba.verdict(parent, change, "higher", 0.25)
    assert row["wins"] == 10 and row["verdict"] == "gain"
    assert abs(row["ratio"] - 2.5 / 2.0) < 1e-9
    # two losses: 8/10 is not a gain
    change2 = change[:8] + [parent[8] - 0.1, parent[9] - 0.1]
    assert abba.verdict(parent, change2, "higher", 0.25)["verdict"] == "same"
    # 10/10 wins by less than the parent's IQR (0.1) is not a gain
    tiny = [p + 0.01 for p in parent]
    row = abba.verdict(parent, tiny, "higher", 0.25)
    assert row["wins"] == 10 and row["verdict"] == "same"
    # lower-is-better metrics win by falling; ties count for neither side
    assert abba.verdict(parent, [p - 0.5 for p in parent], "lower", 0.25)["verdict"] == "gain"
    assert abba.verdict(parent, parent, "lower", 0.25)["wins"] == 0
    # fewer than 10 pairs give a direction, never a claim
    assert abba.verdict(parent[:3], change[:3], "higher", 0.25)["verdict"] == "better"


def test_worse_beyond_the_bound_and_unresolved_when_spread_exceeds_it():
    parent = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98]
    assert abba.verdict(parent, [p * 1.4 for p in parent], "lower", 0.25)["verdict"] == "worse"
    wide = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3]
    assert abba.verdict(parent, wide, "lower", 0.25)["verdict"] == "unresolved"
    # per-layer metrics carry no bound: never worse or unresolved
    assert abba.verdict(parent, [p * 1.4 for p in parent], "lower")["verdict"] == "same"


def test_parse_run_and_table():
    rec = {"correct": True, "attempted": 5, "failed": 0,
           "metrics": {"throughput_per_s": {"value": 2.0, "unit": "1/s"}}}
    out = ("# host: CPU share stolen by the hypervisor per warm round: 0.010 0.120 0.030\n"
           "throughput_per_s = 2.0 1/s\n" + json.dumps(rec) + "\n")
    run = abba.parse_run(out)
    assert run == {"metrics": {"throughput_per_s": 2.0}, "failed": 0, "steal_max": 0.12}
    assert abba.parse_run("Traceback ...\n")["failed"] == 1
    spec = {"end_to_end": [{"name": "throughput_per_s", "unit": "1/s",
                            "better": "higher", "bound": 0.25},
                           {"name": "p50_s", "unit": "s", "better": "lower", "bound": 0.25},
                           {"name": "first_s", "unit": "s", "better": "lower", "bound": 0.25}]}
    runs = [{"parent": {"metrics": {"throughput_per_s": 2.0, "first_s": 0.0}},
             "change": {"metrics": {"throughput_per_s": 2.4, "first_s": 0.0}}}] * 10
    lines = abba.table(runs, spec, trace=False)
    # header, rule, and the one metric every run reported and some run read
    # non-zero
    assert len(lines) == 3
    assert lines[2].startswith("| `throughput_per_s` (1/s) | 2 [2, 2] | 2.4 [2.4, 2.4] | 1.200 | 10/10 | gain |")


def test_table_compares_the_pairs_both_sides_reported():
    spec = {"end_to_end": [{"name": "throughput_per_s", "unit": "1/s",
                            "better": "higher", "bound": 0.25}]}
    ok = {"parent": {"metrics": {"throughput_per_s": 2.0}},
          "change": {"metrics": {"throughput_per_s": 2.4}}}
    lost = {"parent": {"metrics": {"throughput_per_s": 2.0}},
            "change": {"metrics": {}}}
    lines = abba.table([ok] * 10 + [lost], spec, trace=False)
    assert len(lines) == 3
    assert lines[2].endswith("| 10/10 | gain (1 pairs dropped) |")

"""scripts/ab.py: the A/B summary rules and the pair scheduler, on
synthetic results (pure Python: no Spark, no subprocesses)."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import ab  # noqa: E402

SPEC = ab.load_spec(os.path.join(ROOT, "BENCHMARK.json"))


def runs(metric, values):
    return [{"attempted": 1, "failed": 0,
             "metrics": {metric: {"value": v, "unit": "s"}}}
            for v in values]


def summary(metric, parent, change):
    return ab.summarize(runs(metric, parent), runs(metric, change),
                        SPEC)["metrics"][metric]


def test_spec_reads_direction_and_bound():
    assert SPEC["latency_s"] == {"better": "lower", "bound": 0.25}
    assert SPEC["docs_per_s"] == {"better": "higher", "bound": 0.25}
    assert SPEC["q.lsh_topk_s"] == {"better": "lower", "bound": None}


def test_quartiles_interpolate():
    assert ab.quartiles([4, 1, 3, 2, 5]) == (2, 3, 4)
    assert ab.quartiles([1, 2, 3, 4]) == (1.75, 2.5, 3.25)
    assert ab.quartiles([7]) == (7, 7, 7)


def test_ten_wins_beyond_iqr_improve_both_directions():
    parent = [10.0 + 0.1 * i for i in range(10)]
    faster = [p - 1.0 for p in parent]
    s = summary("latency_s", parent, faster)
    assert (s["wins"], s["pairs"], s["verdict"]) == (10, 10, "improved")
    assert s["parent"]["median"] == 10.45
    assert s["change"]["median"] == 9.45
    s = summary("docs_per_s", parent, [p + 1.0 for p in parent])
    assert (s["wins"], s["verdict"]) == (10, "improved")
    # a faster change is a loss for a higher-better metric
    s = summary("docs_per_s", parent, faster)
    assert s["wins"] == 0 and s["verdict"] != "improved"


def test_ties_count_for_neither_and_eight_wins_are_not_improved():
    parent = [10.0 + 0.1 * i for i in range(10)]
    change = [p - 1.0 for p in parent[:9]] + [parent[9]]
    s = summary("latency_s", parent, change)
    assert (s["wins"], s["verdict"]) == (9, "improved")
    change[8] = parent[8]
    s = summary("latency_s", parent, change)
    assert (s["wins"], s["verdict"]) == (8, "unchanged")


def test_fewer_than_ten_pairs_never_improve():
    parent = [10.0 + 0.1 * i for i in range(9)]
    s = summary("latency_s", parent, [p - 5.0 for p in parent])
    assert (s["wins"], s["pairs"]) == (9, 9)
    assert s["verdict"] == "unchanged"


def test_gap_within_parent_iqr_is_not_improved():
    parent = [10.0, 11.0, 12.0, 13.0, 14.0] * 2
    s = summary("latency_s", parent, [p - 0.5 for p in parent])
    assert s["wins"] == 10
    assert s["verdict"] == "unchanged"


def test_median_worse_beyond_bound_is_worse():
    parent = [10.0 + 0.1 * i for i in range(5)]
    assert summary("latency_s", parent,
                   [p * 1.3 for p in parent])["verdict"] == "worse"
    assert summary("latency_s", parent,
                   [p * 1.2 for p in parent])["verdict"] == "unchanged"
    assert summary("docs_per_s", parent,
                   [p * 0.7 for p in parent])["verdict"] == "worse"
    # per-layer metrics have no bound, so they are never `worse`
    assert summary("q.lsh_topk_s", parent,
                   [p * 2 for p in parent])["verdict"] == "unchanged"


def test_parent_spread_wider_than_bound_is_unresolved():
    parent = [6.0, 8.0, 10.0, 12.0, 14.0]  # IQR 4 > 0.25 * median 10
    s = summary("latency_s", parent, [10.0] * 5)
    assert s["verdict"] == "unresolved"
    # ... unless every change run reads better than every parent run
    s = summary("latency_s", parent, [5.0] * 5)
    assert s["verdict"] == "unchanged"
    assert summary("q.lsh_topk_s", parent, [10.0] * 5)["verdict"] == \
        "unchanged"


def test_failed_and_crashed_runs_are_counted_per_side():
    parent = runs("latency_s", [10.0, 10.0])
    parent[1]["attempted"], parent[1]["failed"] = 3, 2
    change = runs("latency_s", [10.0]) + [None]
    out = ab.summarize(parent, change, SPEC)
    assert out["parent"] == {"attempted": 4, "failed": 2}
    assert out["change"] == {"attempted": 2, "failed": 1}
    assert out["metrics"]["latency_s"]["pairs"] == 1


def test_pairs_alternate_order_and_share_seed():
    calls = []

    def runner(side, seed):
        calls.append((side, seed))
        return f"{side}{seed}"

    parent, change = ab.run_pairs(runner, 4, 7)
    assert calls == [("parent", 7), ("change", 7),
                     ("change", 8), ("parent", 8),
                     ("parent", 9), ("change", 9),
                     ("change", 10), ("parent", 10)]
    assert parent == ["parent7", "parent8", "parent9", "parent10"]
    assert change == ["change7", "change8", "change9", "change10"]

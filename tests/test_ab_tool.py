"""tools/ab.py verdict rule: a gain needs >= 10 pairs, >= 9/10 of all
pairs run won, a median gap wider than the parent's IQR and no more
failed ops than the parent; a median worse by more than the bound is a
regression; a parent spread wider than the bound is unresolved."""

from tools.ab import compare, summarize


def test_gain_needs_nine_of_ten_pairs_and_gap_beyond_iqr():
    parent = [4.0, 4.2, 4.4, 4.1, 4.3, 4.25, 4.15, 4.35, 4.05, 4.45]
    change = [2.6, 2.7, 2.8, 2.65, 2.75, 2.7, 2.6, 2.9, 2.55, 2.85]
    c = compare(parent, change, "lower", 0.25)
    assert c["wins"] == 10 and c["verdict"] == "gain"
    # one more lost pair (8/10) is no longer a gain, whatever the gap
    lost = change[:2] + [5.0, 5.0] + change[4:]
    assert compare(parent, lost, "lower", 0.25)["verdict"] != "gain"
    # higher-is-better metrics flip the sign
    rate = compare([1 / p for p in parent], [1 / c for c in change],
                   "higher", 0.25)
    assert rate["wins"] == 10 and rate["verdict"] == "gain"


def test_gap_inside_parent_iqr_is_no_gain():
    parent = [3.0, 5.0, 3.2, 4.8, 3.4, 4.6, 3.6, 4.4, 3.8, 4.2]
    change = [p - 0.1 for p in parent]          # wins every pair, tiny gap
    c = compare(parent, change, "lower", 0.25)
    assert c["wins"] == 10 and c["verdict"] != "gain"


def test_regression_and_unresolved():
    parent = [4.0, 4.1, 4.0, 4.1, 4.0]
    assert compare(parent, [6.0] * 5, "lower", 0.25)["verdict"] == "WORSE"
    assert compare(parent, [4.05] * 5, "lower", 0.25)["verdict"] == \
        "within bound"
    wide = [2.0, 6.0, 2.0, 6.0, 4.0]
    assert compare(wide, [4.0] * 5, "lower", 0.25)["verdict"] == "unresolved"
    # ... unless every change run beats every parent run
    assert compare(wide, [1.9] * 5, "lower", 0.25)["verdict"] != "unresolved"


def test_fewer_than_ten_pairs_is_no_gain():
    parent = [4.0, 4.2, 4.4, 4.1, 4.3]
    c = compare(parent, [2.6, 2.7, 2.8, 2.65, 2.75], "lower", 0.25)
    assert c["wins"] == 5 and c["verdict"] != "gain"


def _run(side, pair, v, ok=True):
    metrics = {"op_s.p50": {"value": v, "unit": "s"}} if ok else {}
    return {"side": side, "pair": pair,
            "result": {"correct": ok, "attempted": 3,
                       "failed": 0 if ok else 1, "metrics": metrics}}


_OP_S = [{"name": "op_s.p50", "better": "lower", "bound": 0.25}]


def test_summarize_counts_a_failed_change_run_as_lost():
    runs = [_run("parent", 1, 4.0), _run("change", 1, 3.0),
            _run("parent", 2, 4.2), _run("change", 2, 0, ok=False)]
    lines = summarize(runs, _OP_S)
    assert lines[0].startswith("parent: 2 runs, 2 correct")
    assert lines[1].startswith("change: 2 runs, 1 correct, 1 failed")
    assert " 1/2 " in lines[-1] and "gain" not in lines[-1]


def test_change_failing_more_ops_is_no_gain():
    parent = [4.0 + 0.05 * i for i in range(10)]
    runs = [_run("parent", i, p) for i, p in enumerate(parent)]
    runs += [_run("change", i, p - 1.5) for i, p in enumerate(parent)]
    assert "gain" in summarize(runs, _OP_S)[-1]
    runs[-1]["result"]["failed"] = 1       # same values, one failed op
    lines = summarize(runs, _OP_S)
    assert any(line.startswith("failed ops: change 1 > parent 0")
               for line in lines)
    assert " 10/10 " in lines[-1] and "gain" not in lines[-1]

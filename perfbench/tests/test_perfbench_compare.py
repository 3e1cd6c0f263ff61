from perfbench.compare import compare, pair, same_conditions
from perfbench.stats import UNRESOLVED, WITHIN

BENCH = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25}]}


def _run(start, value, floor=0.02, steal=0.0, seed=1):
    return {"seed": seed, "started_at": start, "ended_at": start + 50, "floor_s": floor,
            "steal_per_s": steal, "metrics": {"pass_s": value}, "failed": 0, "attempted": 10}


def _interleaved(n, parent_value, change_value):
    # pair i starts at 100 * i; the side that runs first alternates
    parent, change = [], []
    for i in range(n):
        first, second = 100 * i, 100 * i + 50
        p_at, c_at = (first, second) if i % 2 == 0 else (second, first)
        parent.append(_run(p_at, parent_value(i), seed=i))
        change.append(_run(c_at, change_value(i), seed=i))
    return parent, change


def test_interleaved_runs_pair_by_start_time():
    parent, change = _interleaved(4, lambda i: 1.0 + i, lambda i: 1.0 + i)
    pairs, why = pair(parent[::-1], change)
    assert why is None
    assert [(p["seed"], c["seed"]) for p, c in pairs] == [(i, i) for i in range(4)]


def test_sets_taken_one_after_the_other_are_unresolved():
    parent = [_run(100 * i, 1.0) for i in range(10)]
    change = [_run(1000 + 100 * i, 1.0) for i in range(10)]
    pairs, why = pair(parent, change)
    assert pairs == [] and "before pair" in why
    rows = compare({"w": parent}, {"w": change}, BENCH)
    assert rows[0]["verdict"] == UNRESOLVED
    assert rows[1]["note"].startswith("not interleaved")


def test_the_side_that_runs_first_must_alternate():
    parent = [_run(100 * i, 1.0) for i in range(3)]
    change = [_run(100 * i + 50, 1.0) for i in range(3)]
    pairs, why = pair(parent, change)
    assert pairs == [] and "runs first" in why


def test_pairs_from_different_host_conditions_are_left_out():
    assert same_conditions(_run(0, 1.0, floor=0.02), _run(50, 1.0, floor=0.029))
    assert not same_conditions(_run(0, 1.0, floor=0.02), _run(50, 1.0, floor=0.031))
    assert not same_conditions(_run(0, 1.0, steal=0.0), _run(50, 1.0, steal=6.0))
    parent, change = _interleaved(10, lambda i: 1.0, lambda i: 1.02)
    change[3]["floor_s"] = 0.05
    rows = compare({"w": parent}, {"w": change}, BENCH)
    assert rows[0]["pairs"] == "9/10" and rows[0]["verdict"] == WITHIN

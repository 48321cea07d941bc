"""Pin bench.py's stdout columns: ``min_sec[i]`` is the floor of the
query named by the i-th key of ``queries`` — the same function builds
both for the real run."""

from __future__ import annotations

from bench import stdout_columns


def test_min_sec_aligned_with_query_keys():
    registry = {"q_c": None, "q_a": None, "q_missing": None, "q_failed": None, "q_b": None}
    timings = {"q_a": 1.234, "q_b": 0.5, "q_c": 9.876, "q_failed": float("inf"), "q_extra": 3.0}
    mins = {"q_a": 1.001, "q_b": 0.444, "q_c": 8.765, "q_failed": None, "q_extra": 2.0}

    queries, floors = stdout_columns(registry, timings, mins)

    # registry order, registry rows only, skipping the never-benched one
    assert list(queries) == ["q_c", "q_a", "q_failed", "q_b"]
    assert queries == {"q_c": 9.88, "q_a": 1.23, "q_failed": None, "q_b": 0.5}
    assert len(floors) == len(queries)
    for i, name in enumerate(queries):
        want = round(mins[name], 2) if mins[name] is not None else None
        assert floors[i] == want, (i, name)

"""Comparison helpers for golden-fixture parity.

Geometry coords are exact integers; lineMetrics tags are float ratios compared
within tolerance (the fixtures quantize everything else — SURVEY.md §7)."""

import math


def deep_equal(a, b, tol=1e-9, path=""):
    if isinstance(a, bool) or isinstance(b, bool):
        return (a == b, path) if a == b else (False, path)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True, path
        ok = fa == fb or abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
        return ok, path
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False, f"{path}[len {len(a)}!={len(b)}]"
        for i, (x, y) in enumerate(zip(a, b)):
            ok, p = deep_equal(x, y, tol, f"{path}[{i}]")
            if not ok:
                return False, p
        return True, path
    if isinstance(a, dict) and isinstance(b, dict):
        if set(a) != set(b):
            return False, f"{path}{{keys {sorted(set(a) ^ set(b))}}}"
        for k in a:
            ok, p = deep_equal(a[k], b[k], tol, f"{path}.{k}")
            if not ok:
                return False, p
        return True, path
    return (a == b, path)


def assert_tiles_equal(got: dict, expected: dict, tol=1e-9):
    assert set(got) == set(expected), (
        f"tile keys differ: missing={sorted(set(expected) - set(got))[:8]} "
        f"extra={sorted(set(got) - set(expected))[:8]}"
    )
    for k in expected:
        ok, p = deep_equal(got[k], expected[k], tol, k)
        assert ok, f"tile {k} differs at {p}"


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))

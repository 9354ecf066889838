"""Metric unit tests — the reference docstrings are executable specs
(ref metrics.py:121-124 hindex, 75-78 gindex, 34-37 euclidean)."""

from __future__ import annotations

import pytest

from ut_data_engineering_group_project_2022_spark.functions import metrics

SPEC_VECTOR = [6, 10, 5, 46, 0, 2]


def _df(spark, values):
    return spark.createDataFrame(
        [(1, v) for v in values], "author long, cites int"
    )


def test_hindex_matches_reference_spec(spark):
    out = metrics.hindex_agg(_df(spark, SPEC_VECTOR), "author", "cites").collect()
    assert out[0]["hindex"] == 4


def test_gindex_matches_reference_spec(spark):
    # Reference docstring (ref metrics.py:75-78) claims 6, but the code
    # (metrics.py:91-95) drops zero-cited papers first, shrinking the index
    # range to 5 elements -> the function actually returns 5. We match the
    # executable behavior, not the stale docstring.
    out = metrics.gindex_agg(_df(spark, SPEC_VECTOR), "author", "cites").collect()
    assert out[0]["gindex"] == 5


def test_euclidean_matches_reference_spec(spark):
    out = metrics.euclidean_agg(_df(spark, SPEC_VECTOR), "author", "cites").collect()
    assert out[0]["euclidean"] == pytest.approx(47.75982, abs=1e-4)


def test_hindex_edge_cases(spark):
    assert metrics.hindex_agg(_df(spark, [0, 0]), "author", "cites").collect()[0][
        "hindex"
    ] == 0
    assert metrics.hindex_agg(_df(spark, [100]), "author", "cites").collect()[0][
        "hindex"
    ] == 1


def test_python_parity_path(spark):
    """The applyInPandas grouped-map (UDAF path) equals the window form."""
    df = spark.createDataFrame(
        [(a, v) for a in (1, 2) for v in SPEC_VECTOR], "author long, cites int"
    )
    via_pandas = {
        r["author"]: (r["hindex"], r["gindex"])
        for r in metrics.metrics_apply_in_pandas(df, "author", "cites").collect()
    }
    h = {r["author"]: r["hindex"] for r in metrics.hindex_agg(df, "author", "cites").collect()}
    g = {r["author"]: r["gindex"] for r in metrics.gindex_agg(df, "author", "cites").collect()}
    for a in (1, 2):
        assert via_pandas[a] == (h[a], g[a]) == (4, 5)


def test_hg_index_agg_matches_separate_aggregates_and_python(spark):
    """One-pass h/g equals hindex_agg outer-joined with gindex_agg and
    the python twins, on ties, zeros, NULLs, an all-zero group (g NULL:
    no positive citation), an all-NULL group, one-row groups and int32-
    max citations (the running sum must be long)."""
    big = 2**31 - 1
    groups = {
        1: SPEC_VECTOR,
        2: [3, 3, 3, 3],  # ties
        3: [0, 0, 0],  # all zero: h 0, g NULL
        4: [None, None],  # all NULL: h 0, g NULL
        5: [7],  # one row
        6: [0],  # one zero row
        7: [big, big, big],  # cumsum past int32
        8: [5, None, 0, 5, 1, None, 2],  # NULLs and zeros between values
        9: [1, 1, 1, 1, 1, 1, 1, 1, 1],
    }
    df = spark.createDataFrame(
        [(a, v) for a, vs in groups.items() for v in vs], "author long, cites int"
    )
    got = {
        r["author"]: (r["hindex"], r["gindex"])
        for r in metrics.hg_index_agg(df, "author", "cites").collect()
    }
    joined = metrics.hindex_agg(df, "author", "cites").join(
        metrics.gindex_agg(df, "author", "cites"), "author", "outer"
    )
    want = {r["author"]: (r["hindex"], r["gindex"]) for r in joined.collect()}
    assert got == want
    for a, vs in groups.items():
        positive = any(v is not None and v > 0 for v in vs)
        g = metrics._gindex_py(vs) if positive else None
        assert got[a] == (metrics._hindex_py(vs), g), a
    assert got[3] == (0, None) and got[4] == (0, None)
    assert got[7] == (3, 3)

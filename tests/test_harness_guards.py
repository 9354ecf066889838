"""Prove the local harness faithfully mirrors the two driver-canonicalization
behaviors that burned round 5: pandas hashing distinguishes -0.0 from 0.0,
and crashes on array/struct cells.  Each guard must turn those into LOCAL
failures (VERDICT r5 'Next round' #2)."""

from __future__ import annotations

import pytest

from tests.conftest import _norm_cell, compare_with_oracle


def test_negative_zero_preserved_in_norm():
    assert _norm_cell(-0.0) == "-0.0"
    assert _norm_cell(0.0) == "0"
    assert _norm_cell(-0.0) != _norm_cell(0.0)


def test_negative_zero_query_fails_locally(spark, duck):
    # Spark emits +0.0, oracle emits -0.0 — numerically equal, but the
    # driver's pandas hash distinguishes them; the local compare must too.
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(0.0).alias("v"))
    with pytest.raises(AssertionError, match="value mismatch"):
        compare_with_oracle(df, duck, "SELECT -0.0::DOUBLE AS v")


def test_array_output_rejected_locally(spark, duck):
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    with pytest.raises(AssertionError, match="array/struct/map"):
        compare_with_oracle(df, duck, "SELECT [1, 2] AS a")


def test_list_oracle_rejected_locally(spark, duck):
    from pyspark.sql import functions as F

    # Even a scalar Spark side must not be compared against a LIST oracle.
    df = spark.range(1).select(F.lit("1,2").alias("a"))
    with pytest.raises(AssertionError):
        compare_with_oracle(df, duck, "SELECT [1, 2] AS a")


# --- driver-window freshness invariant (VERDICT r6 'Next round' #4) ---
#
# The 50-slot correctness window is allocated stalest-first by
# plans/__init__.py from the CORRECTNESS_r*.json history. These tests
# turn that policy's CONTRACT into an enforced invariant instead of a
# judge-checked one: (a) no registered query's latest driver row may be
# older than ceil(N/50)+1 rounds behind the newest recorded round, and
# (b) the window the policy emits must actually consist of the
# highest-priority queries (fails first, never-checked second, then
# strictly stalest-first).


def _freshness_state():
    from ut_data_engineering_group_project_2022_spark import plans

    hist = plans._driver_history()
    names = list(plans.all_queries())
    return hist, names


def test_driver_rows_within_staleness_bound():
    import math

    hist, names = _freshness_state()
    if not hist:
        pytest.skip("no driver history in this checkout")
    latest = max(rnd for rnd, _ in hist.values())
    allowed = math.ceil(len(names) / 50) + 1
    too_stale = {
        n: hist[n][0]
        for n in names
        if n in hist and latest - hist[n][0] > allowed
    }
    assert not too_stale, (
        f"driver rows older than {allowed} rounds behind r{latest}: "
        f"{too_stale} — the stalest-first window should have rotated "
        "these in; check plans/__init__.py ordering"
    )


def test_window_is_allocated_stalest_first():
    hist, names = _freshness_state()
    if not hist:
        pytest.skip("no driver history in this checkout")
    window, rest = names[:50], names[50:]
    # every failing-latest-row query must be in the window
    failing = [n for n in names if n in hist and not hist[n][1]]
    assert set(failing) <= set(window)
    # every never-checked query must be in the window (or the window is
    # full of fails)
    unchecked = [n for n in names if n not in hist]
    if len(failing) + len(unchecked) <= 50:
        assert set(unchecked) <= set(window)
    # stalest-first: no query outside the window may have an OLDER
    # passing row than the newest passing row inside the window
    in_rounds = [hist[n][0] for n in window if n in hist and hist[n][1]]
    out_rounds = [hist[n][0] for n in rest if n in hist and hist[n][1]]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds), (
            "window holds a fresher passing row than one left outside: "
            f"max(in)={max(in_rounds)} > min(out)={min(out_rounds)}"
        )


def test_driver_sim_selection_arg_semantics():
    """Pin tools/driver_sim.py CLI selection rules (r13+r14 ADVICE).

    A structurally valid but EMPTY TAIL chunk (per = ceil(len/n) leaves
    chunk indices >= ceil(len/per) with nothing) is a no-op success —
    a caller looping i in range(n) must not see a spurious failure.
    Out-of-range chunk indices, unknown explicit names, and empty
    explicit selections stay hard failures so a typo can't make a sweep
    chunk look clean while covering zero queries.
    """
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from driver_sim import select_names
    finally:
        sys.path.pop(0)

    reg = [f"q{i:02d}" for i in range(10)]
    # plain slicing: 10 queries in 6 chunks of ceil(10/6)=2 -> chunks
    # 0-4 cover all ten, chunk 5 is a valid empty tail
    got = [select_names(f"chunk{i}/6", reg) for i in range(6)]
    assert [len(g) for g in got] == [2, 2, 2, 2, 2, 0]
    assert sorted(n for g in got for n in g) == sorted(reg)
    # chunks slice the SORTED registry (stable across priority rotation)
    shuffled = list(reversed(reg))
    assert select_names("chunk0/5", shuffled) == sorted(shuffled)[:2]
    # window50 mirrors registration (= driver priority) order, unsorted
    assert select_names("window50", shuffled) == shuffled[:50]
    assert select_names("all", shuffled) == shuffled
    # hard failures
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        select_names("chunk6/6", reg)  # out of range
    with _pytest.raises(SystemExit):
        select_names("q00,typo", reg)  # unknown name
    with _pytest.raises(SystemExit):
        select_names("", reg)  # empty explicit selection
    # explicit names resolve in the given order
    assert select_names("q03,q01", reg) == ["q03", "q01"]


def test_band_check_guard_paths():
    """Pin tools/band_check.py applicability guards (r15; structured r17).

    The fitted weather-conditioned bands only apply to sf0.1 records that
    carry job_latency_ms_* probes; anything else must say so instead of
    emitting misleading verdicts (an sf0.001 smoke run read every row
    OUTSIDE before the scale-factor guard existed). check() returns
    (row, status, text) tuples (r16 ADVICE: the driver-visible
    band_outside must derive from a status field, not from
    suffix-matching prose that any rewording silently changes).
    """
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from band_check import FITS, FITS_P3_FALLBACK, check, render
    finally:
        sys.path.pop(0)

    (row, status, text), = check({"sf": 0.001})
    assert (row, status) == (None, "inapplicable")
    assert text.endswith("inapplicable at sf=0.001")
    assert check({"sf": 0.1})[0][1] == "inapplicable"  # probe-less record
    rec = {
        "sf": 0.1,
        "job_latency_ms_start": 90.0,
        "job_latency_ms_warm": 100.0,
        "job_latency_ms_end": 110.0,
        "dispatch_band": "ordinary",
        # the band centres at probe_mean3 = 100 ms (pagerank has no
        # trace here, so its probe_mean3 fallback fit applies)
        "star_load_seconds": FITS["star_load_seconds"]["a"]
        + FITS["star_load_seconds"]["b"],
        "queries": {
            "graph_pagerank": FITS_P3_FALLBACK["graph_pagerank"]["a"]
            + FITS_P3_FALLBACK["graph_pagerank"]["b"],
            "graph_louvain": 99.0,
        },
    }
    results = check(rec)
    assert results[0][1] == "meta"
    assert results[0][2].startswith("probe_mean3 = 100.0 ms")
    by_row = {row: status for row, status, _ in results if row}
    assert by_row == {
        "star_load_seconds": "inside",
        "graph_pagerank": "inside",
        "graph_louvain": "outside",
    }
    # render() emits one human line per verdict, in order
    assert render(results) == [text for _, _, text in results]


def test_band_check_outside_rows_structured():
    """outside_rows(): None = inapplicable, [] = all inside, names = outliers."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from band_check import FITS, FITS_P3_FALLBACK, FLAT, outside_rows
    finally:
        sys.path.pop(0)

    assert outside_rows({"sf": 0.001}) is None
    assert outside_rows({"sf": 0.1}) is None  # probe-less
    rec = {
        "sf": 0.1,
        "job_latency_ms_start": 90.0,
        "job_latency_ms_warm": 100.0,
        "job_latency_ms_end": 110.0,
        # the band centres at probe_mean3 = 100 ms
        "star_load_seconds": FITS["star_load_seconds"]["a"]
        + FITS["star_load_seconds"]["b"],
        "queries": {
            "graph_pagerank": FITS_P3_FALLBACK["graph_pagerank"]["a"]
            + FITS_P3_FALLBACK["graph_pagerank"]["b"],
            "graph_louvain": 99.0,
        },
    }
    assert outside_rows(rec) == ["graph_louvain"]
    rec["queries"]["graph_louvain"] = FLAT["graph_louvain"]["mean"]
    assert outside_rows(rec) == []


def test_row_weather_trace_alignment():
    """Pin band_check.row_weather() (r15 probe-trace instrument).

    bench.py records one single-rep probe before each sorted suite row
    plus one after the last; row i's local weather is the mean of its
    bracketing samples. Misaligned or absent traces must return None —
    silently pairing rows with the wrong samples would fabricate
    adjudication evidence.
    """
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from band_check import row_weather
    finally:
        sys.path.pop(0)

    rec = {
        "queries": {"b_row": 1.0, "a_row": 2.0, "c_row": 3.0},
        "job_probe_trace_ms": [100.0, 120.0, 80.0, 90.0],
    }
    # sorted rows: a_row, b_row, c_row; bracketing means follow suit
    assert row_weather(rec) == {"a_row": 110.0, "b_row": 100.0, "c_row": 85.0}
    # no trace / empty trace / length mismatch -> None
    assert row_weather({"queries": {"a": 1.0}}) is None
    assert row_weather({"queries": {"a": 1.0}, "job_probe_trace_ms": []}) is None
    assert (
        row_weather({"queries": {"a": 1.0}, "job_probe_trace_ms": [1.0, 2.0, 3.0]})
        is None
    )


def test_row_weather_self_describing_order():
    """r16 (r15 ADVICE): sidecars record `job_probe_trace_rows` so trace
    alignment is self-describing; row_weather must honor the recorded
    order over the sorted(queries) convention and refuse a recorded
    list that disagrees with the queries dict."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from band_check import row_weather
    finally:
        sys.path.pop(0)

    rec = {
        "queries": {"b_row": 1.0, "a_row": 2.0},
        "job_probe_trace_ms": [100.0, 200.0, 300.0],
        # deliberately NOT alphabetical — recorded order must win
        "job_probe_trace_rows": ["b_row", "a_row"],
    }
    assert row_weather(rec) == {"b_row": 150.0, "a_row": 250.0}
    # recorded rows disagreeing with queries -> None (no silent mispair)
    rec["job_probe_trace_rows"] = ["b_row", "zz_row"]
    assert row_weather(rec) is None
    # recorded rows of the wrong length -> None
    rec["job_probe_trace_rows"] = ["b_row"]
    assert row_weather(rec) is None


def _bands():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        import band_check
    finally:
        sys.path.pop(0)
    return band_check


def test_louvain_trace_conditioned_adjudication():
    """r16 (r15 verdict ask #2) + r17 (r16 ADVICE): an outside-band
    louvain reading on a trace-carrying record is adjudicated
    row-locally, and the episode gate is RELATIVE to the record's own
    ambient — max(TRACE_LOUD_MS, REL_LOUD * trace median). A bracketing
    window at ambient level on an ordinary-loud day is the day, not an
    episode, and must stay OUTSIDE (a real regression would otherwise
    be systematically masked on loud days)."""
    bc = _bands()
    hi = bc.FLAT["graph_louvain"]["mean"] + 2 * bc.FLAT["graph_louvain"]["sigma"]

    def rec(louvain_s, trace):
        # five-row suite: louvain in slot 2, the rest ambient context
        rows = ["r1", "r2", "graph_louvain", "r3", "r4"]
        r = {
            "sf": 0.1,
            "job_latency_ms_start": 100.0,
            "job_latency_ms_warm": 100.0,
            "job_latency_ms_end": 100.0,
            "queries": {name: (louvain_s if name == "graph_louvain" else 1.0)
                        for name in rows},
        }
        if trace is not None:
            r["job_probe_trace_ms"] = trace
            r["job_probe_trace_rows"] = rows
        return r

    # quiet ambient (median ~122) + a 250-280 ms episode bracketing
    # exactly louvain's slot -> adjudicated, not flagged
    loud = rec(hi + 1.0, [120.0, 125.0, 250.0, 280.0, 118.0, 122.0])
    assert bc.outside_rows(loud) == []
    (entry,) = [t for t in bc.check(loud) if t[0] == "graph_louvain"]
    assert entry[1] == "weather" and "adjudicated as weather" in entry[2]
    # outside + quiet weather -> still OUTSIDE (the real-anomaly shape)
    quiet = rec(hi + 1.0, [120.0, 125.0, 118.0, 121.0, 118.0, 122.0])
    assert bc.outside_rows(quiet) == ["graph_louvain"]
    # ordinary-loud day: ambient median 160, louvain bracket 181 — loud
    # in absolute terms but NOT anomalous vs its own record (gate
    # 1.3*160 = 208) -> stays OUTSIDE (r16 ADVICE; this is the r16
    # driver record's exact shape: louvain 12.133 / weather 181 /
    # ambient 160)
    loudday = rec(hi + 1.0, [160.0, 158.0, 178.0, 184.0, 162.0, 155.0])
    assert bc.outside_rows(loudday) == ["graph_louvain"]
    # outside + no trace -> plain OUTSIDE (pre-r16 records)
    assert bc.outside_rows(rec(hi + 1.0, None)) == ["graph_louvain"]
    # inside stays inside regardless of weather
    assert bc.outside_rows(
        rec(bc.FLAT["graph_louvain"]["mean"],
            [120.0, 125.0, 250.0, 280.0, 118.0, 122.0])
    ) == []


def test_ols_trace_conditioned_adjudication(monkeypatch):
    """r17 (r16 verdict ask #1) + r18 tm re-base + r17 ADVICE cap: an
    OLS row outside its band slow-side, whose own bracketing weather is
    episode-loud relative to the regressor the band conditioned on
    (trace_median for the query rows since the r18 re-base), is
    re-evaluated at that local weather — within the fit there means
    weather (excluded from band_outside); above the fit even at local
    weather stays OUTSIDE (a genuine regression is not maskable by
    loud weather); and local weather beyond the fit's calibrated reach
    (WEATHER_CAP_FACTOR x the fitted range max) yields "confirm", which
    stays in band_outside — the fit has no calibration there, so the
    miss must prompt a re-run instead of a self-issued weather pass
    (r17 ADVICE: extrapolating to a 300-633 ms sample invents an upper
    limit a multi-fold regression could hide under). Fast-side misses
    are never weather-adjudicated.

    The adjudication needs a fit whose limit rises with the weather.
    The committed r20 pagerank fit has a negative slope (the kernel row
    no longer tracks dispatch weather), so the row is pinned here to
    the previous committed fit to keep exercising that branch."""
    bc = _bands()
    assert bc.FITS["graph_pagerank"]["x"] == "trace_median"  # the r18 re-base premise
    monkeypatch.setitem(
        bc.FITS,
        "graph_pagerank",
        {"a": 0.185, "b": 2.234, "sigma": 0.688, "x": "trace_median"},
    )
    f = bc.FITS["graph_pagerank"]

    def rec(value, bracket_ms):
        # five-row suite: four ambient-120 slots pin the trace median
        # at 120 regardless of the pagerank bracket under test
        rows = ["a", "graph_pagerank", "z1", "z2", "z3"]
        return {
            "sf": 0.1,
            "job_latency_ms_start": 100.0,
            "job_latency_ms_warm": 100.0,
            "job_latency_ms_end": 100.0,
            "queries": {n: (value if n == "graph_pagerank" else 1.0) for n in rows},
            "job_probe_trace_ms": [120.0, bracket_ms, bracket_ms,
                                   120.0, 120.0, 120.0],
            "job_probe_trace_rows": rows,
        }

    hi_at = lambda tm_ms: f["a"] + f["b"] * tm_ms / 100.0 + 2 * f["sigma"]  # noqa: E731
    # slow miss at tm 120, bracketing weather 170 (>= gate 1.3*120=156,
    # under the cap 1.5*160=240, and the fit at 170 allows it)
    # -> adjudicated as weather
    v = hi_at(120.0) + 0.3
    assert v <= hi_at(170.0)
    slow_loud = rec(v, 170.0)
    assert bc.outside_rows(slow_loud) == []
    (entry,) = [t for t in bc.check(slow_loud) if t[0] == "graph_pagerank"]
    assert entry[1] == "weather"
    # same weather, but the value exceeds the fit even AT that weather
    # -> OUTSIDE (regression shape preserved under loud weather)
    v_bad = hi_at(170.0) + 0.5
    assert bc.outside_rows(rec(v_bad, 170.0)) == ["graph_pagerank"]
    # same slow miss but the bracket is beyond the calibrated reach
    # (300 > cap 240): "confirm", still surfaced in band_outside
    cap = bc.WEATHER_CAP_FACTOR * bc.TM_RANGE_MS[1]
    assert 300.0 > cap
    confirm = rec(v, 300.0)
    assert bc.outside_rows(confirm) == ["graph_pagerank"]
    (entry,) = [t for t in bc.check(confirm) if t[0] == "graph_pagerank"]
    assert entry[1] == "confirm" and "needs a re-run" in entry[2]
    # slow miss with quiet local weather (140 < gate 156) -> OUTSIDE
    assert bc.outside_rows(rec(hi_at(120.0) + 0.3, 140.0)) == ["graph_pagerank"]
    # fast-side miss (r20, r19 ADVICE): never weather-adjudicated,
    # surfaced with its own "fast" status AND included in band_outside
    # again — the bands describe the re-based new-code population, so
    # an anomalously fast reading is a measurement/plan anomaly to
    # investigate (the r19-only suppression is over)
    lo = f["a"] + f["b"] * 1.2 - 2 * f["sigma"]
    fast = rec(lo - 0.3, 170.0)
    assert bc.outside_rows(fast) == ["graph_pagerank"]
    (entry,) = [t for t in bc.check(fast) if t[0] == "graph_pagerank"]
    assert entry[1] == "fast" and "FAST-side" in entry[2]
    # inside stays inside
    assert bc.outside_rows(rec(f["a"] + f["b"] * 1.2, 170.0)) == []


def test_ols_fallback_for_trace_less_records():
    """r18: the query rows regress on trace_median; a record with no
    trace median (pre-r15 shape) must be read against the probe_mean3
    fallback fits — flagged as such in the verdict text — instead of
    silently skipping the row or misusing the tm coefficients."""
    bc = _bands()
    fb = bc.FITS_P3_FALLBACK["graph_pagerank"]
    rec = {
        "sf": 0.1,
        "job_latency_ms_start": 100.0,
        "job_latency_ms_warm": 100.0,
        "job_latency_ms_end": 100.0,
        "queries": {"graph_pagerank": fb["a"] + fb["b"] * 1.0},
    }
    (entry,) = [t for t in bc.check(rec) if t[0] == "graph_pagerank"]
    assert entry[1] == "inside" and "p3 fallback" in entry[2]
    rec["queries"]["graph_pagerank"] = fb["a"] + fb["b"] * 1.0 + 3 * fb["sigma"]
    assert bc.outside_rows(rec) == ["graph_pagerank"]


def test_refit_bands_reproduces_committed_constants():
    """r17 (r16 ADVICE): the committed band_check constants are a fixed
    point of tools/refit_bands.py at HEAD — the documented refit
    procedure must reproduce FITS/FLAT/PROBE_RANGE_MS exactly, so the
    fit is a function of the commit (git ls-files enumeration), not of
    whatever untracked records sit in the working tree."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        import band_check
        from refit_bands import refit
    finally:
        sys.path.pop(0)

    fits, fallback, flat, tm_range, p3_range, lines = refit()
    assert fits == band_check.FITS
    assert fallback == band_check.FITS_P3_FALLBACK
    assert flat == band_check.FLAT
    assert tm_range == band_check.TM_RANGE_MS
    assert p3_range == band_check.PROBE_RANGE_MS
    # the two r16 louvain episode readings, the r18 loud-ambient
    # reading, and the two post-optimization r19 driver readings
    # (BENCH_r19 / BENCH_r19_c8 — fast-side, the deliberate population
    # shift awaiting the r20 re-base) are trimmed, with provenance
    trims = [ln for ln in lines if ln.startswith("# EXCLUDED")]
    assert len(trims) == 5 and all("graph_louvain" in ln for ln in trims)
    # r17 ADVICE: flat-trim drift is surfaced, not silent — the refit
    # prints how many recent flag-null readings were trimmed
    (drift,) = [ln for ln in lines if "trim drift" in ln]
    assert "graph_louvain" in drift and "of last" in drift


def test_refit_bands_degenerate_rows_do_not_crash():
    """r17 ADVICE: when every reading for a row is trimmed/absent, the
    refit must print a clear SKIPPED message naming the row instead of
    crashing (zip(*[]) used to raise ValueError and ols() divided by
    zero at n<=2), so the documented re-base workflow survives the
    degenerate case."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from refit_bands import _fit_row
    finally:
        sys.path.pop(0)

    lines: list[str] = []
    assert _fit_row("some_row", [], lines, 4) is None
    assert _fit_row("other_row", [(1.0, 2.0), (1.1, 2.2)], lines, 0) is None
    assert len(lines) == 2
    assert all(ln.startswith("# SKIPPED") for ln in lines)
    assert "some_row" in lines[0] and "excluding 4" in lines[0]
    assert "other_row" in lines[1] and "only 2" in lines[1]


def test_refit_bands_ols_recovers_known_line():
    """Sanity-pin tools/refit_bands.py's OLS: exact fit on a noiseless
    line, correct sigma/R2 shape on a perturbed one."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from refit_bands import ols
    finally:
        sys.path.pop(0)

    xs = [0.9, 1.0, 1.1, 1.2, 1.3]
    ys = [2.0 + 3.0 * x for x in xs]
    a, b, sigma, r2 = ols(xs, ys)
    assert abs(a - 2.0) < 1e-9 and abs(b - 3.0) < 1e-9
    assert sigma < 1e-9 and abs(r2 - 1.0) < 1e-9
    ys2 = [y + d for y, d in zip(ys, [0.1, -0.1, 0.1, -0.1, 0.0])]
    a2, b2, sigma2, r2_2 = ols(xs, ys2)
    assert sigma2 > 0 and 0 < r2_2 < 1


def test_refit_bands_records_ordered_chronologically():
    """r18 ADVICE: the flat-trim drift window takes the LAST
    RECENT_WINDOW flag-null readings, so record enumeration must be
    chronological — round number first, with the round's driver record
    (BENCH_rN, recorded at round end) after that round's session
    snapshots. The old filename sort put every BENCH_r*.json before
    every snapshot, so driver-record trims could never reach the
    'recent' window."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        from refit_bands import load_records
    finally:
        sys.path.pop(0)

    import re

    names = [n for n, _, _, _ in load_records()]

    def key(name):
        m = re.match(r"(?:BENCH_)?r(\d+)", name)
        return (int(m.group(1)), name.startswith("BENCH_"))

    keys = [key(n) for n in names]
    assert keys == sorted(keys), f"records not chronological: {names}"
    # spot-pin the motivating case: BENCH_r16 sits after the r16
    # session snapshots and before anything from r17
    i_bench16 = names.index("BENCH_r16.json")
    i_snap16 = names.index("r16_louvain_episode.json")
    i_snap17 = names.index("r17_ordinary.json")
    assert i_snap16 < i_bench16 < i_snap17


def test_refit_inside_committed_falls_back_to_p3_fits_without_trace():
    """r18 ADVICE: _inside_committed must mirror band_check.check() —
    a trace_median-keyed fit evaluated on a record with no trace median
    falls back to the row's FITS_P3_FALLBACK probe_mean3 fit instead of
    plugging a probe_mean3 value into trace-median coefficients."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    try:
        import band_check
        from refit_bands import _inside_committed
    finally:
        sys.path.pop(0)

    row = "graph_connected_components"
    fb = band_check.FITS_P3_FALLBACK[row]
    p3 = 110.0
    exp = fb["a"] + fb["b"] * p3 / 100.0
    # dead-center of the FALLBACK band at p3: inside under the correct
    # rule; the tm coefficients at x=110 would put the center elsewhere
    assert _inside_committed(row, exp, p3, None)
    assert not _inside_committed(row, exp + 2 * fb["sigma"] + 0.01, p3, None)
    # with a trace median present, the tm fit governs
    f = band_check.FITS[row]
    tm = 130.0
    exp_tm = f["a"] + f["b"] * tm / 100.0
    assert _inside_committed(row, exp_tm, p3, tm)

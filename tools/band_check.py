"""Evaluate a bench sidecar against the weather-conditioned expected bands.

The r14 verdict asked for fitted per-row expected bands (row value vs
the record's own dispatch-weather measurement) so ordinary-band
records are quantitatively adjudicable without waiting for a
quiet-band minute. The fit lives in bench_snapshots/README.md
("Weather-conditioned expected bands"); this tool applies it to a
record so snapshot notes can cite computed verdicts instead of hand
arithmetic.

Usage:
    python tools/band_check.py [path-to-sidecar.json ...]

Defaults to the live BENCH_local.json at the repo root. Prints one
line per job-count-heavy row: fitted expectation at the record's
weather regressor, the ±2σ band, and inside/outside. Exit code is 0
either way — the band is an adjudication aid, not a gate.

Fit provenance (tools/refit_bands.py over the committed, git-tracked
probe-carrying records; refit when new records land):

- graph_connected_components / graph_pagerank / llm_semdedup regress
  on `job_probe_trace_median_ms` — the median of the per-row dispatch
  trace (r18 re-base; the r17-set trigger fired when BENCH_r17 became
  the 10th committed trace-median-carrying record, and the trace
  median lifted R² decisively: CC 0.55→0.75, pagerank 0.37→0.68,
  semdedup 0.41→0.64 — three endpoint probes straddle mid-suite
  weather, ~27 inter-row samples measure it). Records without a trace
  median (pre-r15) are read against the FITS_P3_FALLBACK probe_mean3
  fits instead, flagged as such in the verdict text.
- star_load_seconds stays on probe_mean3 (R² 0.91 vs 0.73 on the tm
  subset): the loader runs between the start and warm probes, BEFORE
  the trace begins, so the trace median is the wrong window for it.
- graph_louvain is probe-independent (R² ≤ 0.16 on probe_mean3 under
  every n tried; its tm fit reaches R² 0.63 only after the flat trim
  at n=7 — too weak to adopt, see refit_bands.py) and uses a flat
  empirical mean ± 2σ band fitted on flag-null in-band records only
  (a flat band has no regressor to absorb a loud reading).

Trace-conditioned weather adjudication (r15/r16 verdict asks, r16/r17
ADVICE): on records that carry the per-row `job_probe_trace_ms`
dispatch trace, an OUTSIDE-slow reading is adjudicated in place when
the record's own evidence shows the miss is dispatch weather, not the
row. Two rules, one per band kind, each gated on a row-local loud
episode that is *anomalous relative to what the band conditioned on*
(r16 ADVICE: a fixed 150 ms floor sits below ordinary ambient on loud
days, so the threshold is relative, floored at TRACE_LOUD_MS):

- FLAT rows condition on nothing, so their reference is the record's
  own ambient = the trace median: bracketing weather >=
  max(TRACE_LOUD_MS, REL_LOUD * trace_median) means a row-local
  episode; an ordinary-loud day (weather ~= ambient) does NOT
  auto-adjudicate — the miss stays OUTSIDE and owes an external
  investigation (re-run / same-session snapshot).
- OLS rows condition on their regressor x, so their reference is x
  itself: bracketing weather >= max(TRACE_LOUD_MS, REL_LOUD * x)
  means the band was evaluated at conditions milder than the row
  experienced. The fit then arbitrates: re-evaluate the band at the
  row's local weather; a value at or under that upper limit is
  weather, while a value above the band even at its own local weather
  stays OUTSIDE — a genuine regression is not maskable by loud
  weather. The re-evaluation is only trusted inside the fit's
  calibrated reach (r17 ADVICE: the fit was trained on regressor
  values inside the fitted range, and extrapolating it to a 300-633 ms
  bracketing sample invents an upper limit several-fold above normal,
  so a multi-fold regression coinciding with a loud episode could be
  silently excused): when the local weather exceeds
  WEATHER_CAP_FACTOR × the regressor's fitted range maximum, the
  verdict is "confirm" — needs external confirmation (re-run or
  same-session snapshot), still listed in band_outside so the miss
  prompts action — never "weather".

Fast-side misses are never weather-adjudicated (loud dispatch cannot
explain a fast reading) and stay OUTSIDE for investigation.
"""
import json
import statistics
import sys
from pathlib import Path

# value_s = a + b * (x / 100 ms); band = fit ± 2*sigma; "x" names the
# regressor. Fitted by tools/refit_bands.py on the 41 tracked
# probe-carrying records (29 carry a trace median); EPOCH_MIN_ROUND
# keeps only the 13 r20 records in every row's fit. This paste restores
# the fixed point after the r20 close committed its records after the
# previous paste. The OLS rows have R² 0.01-0.15 and two negative
# slopes: on the single-task kernels these rows no longer track the
# dispatch probes, so the bands are narrow but condition on nothing.
FITS = {
    "graph_connected_components": {"a": 1.531, "b": -0.543, "sigma": 0.098,
                                   "x": "trace_median"},
    "graph_pagerank": {"a": 1.381, "b": -0.423, "sigma": 0.114,
                       "x": "trace_median"},
    "llm_semdedup": {"a": 0.322, "b": 0.061, "sigma": 0.042,
                     "x": "trace_median"},
    "star_load_seconds": {"a": 1.864, "b": 1.036, "sigma": 0.341,
                          "x": "probe_mean3"},
}
# probe_mean3 fits for the trace_median rows, used on records that
# carry no trace median (pre-r15 driver records, r12-r15 snapshots).
FITS_P3_FALLBACK = {
    "graph_connected_components": {"a": 0.42, "b": 0.295, "sigma": 0.103},
    "graph_pagerank": {"a": 0.686, "b": 0.081, "sigma": 0.119},
    "llm_semdedup": {"a": 0.086, "b": 0.283, "sigma": 0.031},
}
# Probe-independent: flat band = mean ± 2σ of the flag-null in-band
# records. All eight flag-null r20 louvain readings (1.14-2.63 s) lie
# outside the pre-kernel band (7.00 ± 1.34), so the refit trims them
# all; re-based on the cluster of the BENCH_r20 reading (1.136,
# 1.277, 1.353 s), which the refit reproduces with the other five
# trimmed.
FLAT = {"graph_louvain": {"mean": 1.255, "sigma": 0.11}}
TM_RANGE_MS = (118.0, 196.9)
PROBE_RANGE_MS = (90.7, 141.8)
# Absolute floor for a row-local loud episode (r15 hunt log: episodes
# read 212-633 ms vs a 118-144 ms ordinary-band floor).
TRACE_LOUD_MS = 150.0
# Relative factor (r16 ADVICE): an episode must also be loud relative
# to what the band conditioned on (trace median for FLAT rows, the
# fit's regressor for OLS rows) — on an ordinary-loud day (ambient
# 142-160 ms) a bracketing window at ambient level is weather the
# band should already carry, not an episode that excuses a miss.
REL_LOUD = 1.3
# r17 ADVICE: the OLS re-evaluation is only trusted up to this
# multiple of the regressor's fitted range maximum; louder local
# weather yields "confirm" (needs external confirmation), never
# "weather" — the fit has no calibration there.
WEATHER_CAP_FACTOR = 1.5


def outside_rows(payload: dict) -> list[str] | None:
    """Structured verdict: names of rows OUTSIDE their fitted band.

    Returns None when the bands are inapplicable to this record (wrong
    sf, no probes), [] when every covered row reads inside or is
    trace-adjudicated as weather, else the sorted row names ("confirm"
    verdicts — misses whose local weather exceeds the fit's calibrated
    reach — are included: they need action). This is what bench.py
    embeds in the compact stdout payload as `band_outside`.
    """
    return outside_from(check(payload))


def outside_from(results: list[tuple[str | None, str, str]]) -> list[str] | None:
    """band_outside from check()'s structured verdicts (status field only).

    r20: "fast" misses are REPORTED again (r19 ADVICE) — the r19-only
    suppression existed because the bands then described the pre-r19
    plans; after the r20 re-base on new-code records a fast miss is an
    anomaly worth listing (weather cannot speed a row past the quiet
    population, so it points at a measurement or plan bug)."""
    if any(status == "inapplicable" for _, status, _ in results):
        return None
    return sorted(
        row
        for row, status, _ in results
        if status in ("outside", "confirm", "fast")
    )


def render(results: list[tuple[str | None, str, str]]) -> list[str]:
    """Human-readable lines from check()'s structured verdicts.

    This is what sidecars store under `band_check` and what the CLI
    prints; outside_rows() filters on the status field, never on these
    strings (r16 ADVICE: deriving the driver-visible band_outside by
    suffix-matching prose meant any rewording silently changed driver
    output).
    """
    return [text for _, _, text in results]


def row_weather(payload: dict) -> dict[str, float] | None:
    """Per-row local dispatch weather from the sidecar's probe trace.

    bench.py (r15) records `job_probe_trace_ms`: one single-rep probe
    between suite rows — sample i precedes sorted(queries)[i], the last
    sample follows the final row. A row's local weather is the mean of
    its two bracketing samples, which is what the three suite-level
    probes cannot give: every band miss in the r15 hunt log traced to a
    loud episode localized WITHIN the suite that probe_mean3 straddled.
    Single samples jitter (~±30 ms on scheduler wakeup), so treat a
    row's number as indicative, not calibrated — band evaluation stays
    keyed on the fitted regressors; the per-row numbers only feed the
    capped episode adjudication.

    Alignment is self-describing from r16 on: bench.py records
    `job_probe_trace_rows` (the row name per sample slot) next to the
    trace, so pairing no longer rests on the implicit "both sides sort
    alphabetically" cross-file convention (r15 ADVICE). Pre-r16 sidecars
    lack the field and fall back to the sorted(queries) convention the
    unit test pins.

    Returns None when the record carries no trace, the trace length does
    not match len(rows)+1, or a recorded row list disagrees with the
    queries dict (misalignment would silently pair rows with the wrong
    samples).
    """
    trace = payload.get("job_probe_trace_ms")
    queries = payload.get("queries")
    if not trace or not queries:
        return None
    rows = payload.get("job_probe_trace_rows") or sorted(queries)
    if len(trace) != len(rows) + 1 or set(rows) != set(queries):
        return None
    return {
        row: round((trace[i] + trace[i + 1]) / 2, 1) for i, row in enumerate(rows)
    }


def trace_median_ms(payload: dict) -> float | None:
    """The record's session-weather median: the compact driver field
    when present, else computed from the full trace sidecars carry."""
    tm = payload.get("job_probe_trace_median_ms")
    if tm is None and payload.get("job_probe_trace_ms"):
        tm = statistics.median(payload["job_probe_trace_ms"])
    return tm


def check(payload: dict) -> list[tuple[str | None, str, str]]:
    """Adjudicate a record's job-count-heavy rows against the bands.

    Returns (row, status, text) tuples — row is None for record-level
    lines; status is one of:
      "inapplicable"  bands don't apply (wrong sf / no probes),
      "meta" / "note" record-level context lines,
      "inside"        reading inside its band,
      "weather"       outside, trace-adjudicated as a row-local loud
                      episode within the fit's calibrated reach
                      (excluded from band_outside),
      "confirm"       outside, with a row-local episode louder than the
                      fit's calibrated reach — not self-adjudicable,
                      needs a re-run (included in band_outside),
      "outside"       SLOW-side outside with no in-record weather
                      explanation — investigate,
      "fast"          FAST-side outside: the reading undercuts the
                      re-based new-code band. Weather can slow a row,
                      never speed it past the quiet population, so a
                      fast miss is a measurement or plan anomaly —
                      INCLUDED in band_outside again as of the r20
                      re-base (r19 ADVICE; the r19-only suppression
                      existed because the bands then described the
                      pre-r19 plans).
    """
    sf = payload.get("sf")
    if sf != 0.1:
        # Every record in the fitting data ran at sf0.1; row values at
        # another scale factor have nothing to do with these bands
        # (caught live: an sf0.001 smoke run read every row OUTSIDE).
        return [(None, "inapplicable",
                 f"bands fitted at sf0.1 — inapplicable at sf={sf}")]
    probes = [
        payload.get("job_latency_ms_start"),
        payload.get("job_latency_ms_warm"),
        payload.get("job_latency_ms_end"),
    ]
    if any(p is None for p in probes):
        return [(None, "inapplicable",
                 "no job_latency_ms_* probes on this record — bands inapplicable")]
    p3 = sum(probes) / 3
    tm = trace_median_ms(payload)
    results: list[tuple[str | None, str, str]] = [(
        None, "meta",
        f"probe_mean3 = {p3:.1f} ms (start/warm/end ="
        f" {probes[0]:.0f}/{probes[1]:.0f}/{probes[2]:.0f});"
        + (f" trace_median = {tm:.1f} ms;" if tm is not None else
           " no trace median (pre-r15 record — probe_mean3 fallback fits);")
        + f" dispatch_band = {payload.get('dispatch_band')}",
    )]
    if not (PROBE_RANGE_MS[0] <= p3 <= PROBE_RANGE_MS[1]):
        results.append((
            None, "note",
            f"NOTE: probe_mean3 outside the fitted {PROBE_RANGE_MS[0]:.0f}-"
            f"{PROBE_RANGE_MS[1]:.0f} ms range — extrapolating",
        ))
    if tm is not None and not (TM_RANGE_MS[0] <= tm <= TM_RANGE_MS[1]):
        results.append((
            None, "note",
            f"NOTE: trace_median outside the fitted {TM_RANGE_MS[0]:.0f}-"
            f"{TM_RANGE_MS[1]:.0f} ms range — extrapolating",
        ))
    queries = payload.get("queries", {})
    weather = row_weather(payload)
    for row, f in FITS.items():
        v = payload.get(row) if row == "star_load_seconds" else queries.get(row)
        if v is None:
            continue
        if f["x"] == "trace_median" and tm is None:
            f = {**FITS_P3_FALLBACK[row], "x": "probe_mean3"}
            regime = " (p3 fallback)"
        else:
            regime = ""
        x, range_hi = (tm, TM_RANGE_MS[1]) if f["x"] == "trace_median" else \
                      (p3, PROBE_RANGE_MS[1])
        exp = f["a"] + f["b"] * x / 100.0
        lo, hi = exp - 2 * f["sigma"], exp + 2 * f["sigma"]
        prefix = (f"{row}: {v:.3f} s vs fitted {exp:.2f} [{lo:.2f}-{hi:.2f}]"
                  f" at {f['x']} {x:.0f} ms{regime}")
        if lo <= v <= hi:
            results.append((row, "inside", f"{prefix} — inside"))
            continue
        w = weather.get(row) if weather else None
        gate = max(TRACE_LOUD_MS, REL_LOUD * x)
        if v > hi and w is not None and w >= gate and w > x:
            # The band conditioned on x but the row's own bracketing
            # weather was episode-loud relative to it; the fit
            # arbitrates — within its calibrated reach only (r17
            # ADVICE: extrapolating to a 300-633 ms sample invents an
            # upper limit a real regression could hide under).
            cap = WEATHER_CAP_FACTOR * range_hi
            if w > cap:
                results.append((row, "confirm",
                    f"{prefix} — outside; local weather {w:.0f} ms exceeds "
                    f"the fit's calibrated reach ({cap:.0f} ms = "
                    f"{WEATHER_CAP_FACTOR}x the fitted {f['x']} range max) "
                    "— NOT self-adjudicable, needs a re-run or "
                    "same-session snapshot to confirm"))
                continue
            hi_local = f["a"] + f["b"] * w / 100.0 + 2 * f["sigma"]
            if v <= hi_local:
                results.append((row, "weather",
                    f"{prefix} — outside, but local weather {w:.0f} ms ≥ "
                    f"episode gate {gate:.0f} and the fit at {w:.0f} ms "
                    f"allows up to {hi_local:.2f} — traced row-local loud "
                    "episode, adjudicated as weather"))
            else:
                results.append((row, "outside",
                    f"{prefix} — OUTSIDE even re-evaluated at its local "
                    f"weather {w:.0f} ms (fit allows up to {hi_local:.2f})"))
        elif v > hi and w is not None:
            results.append((row, "outside",
                f"{prefix} — local weather {w:.0f} ms under the episode "
                f"gate {gate:.0f} — OUTSIDE"))
        elif v < lo:
            results.append((row, "fast",
                f"{prefix} — FAST-side miss (below the re-based new-code "
                "band) — investigate: weather cannot speed a row, so "
                "this is a measurement or plan anomaly"))
        else:
            # slow-side miss with no trace on this record
            results.append((row, "outside", f"{prefix} — OUTSIDE"))
    for row, f in FLAT.items():
        v = queries.get(row)
        if v is None:
            continue
        lo, hi = f["mean"] - 2 * f["sigma"], f["mean"] + 2 * f["sigma"]
        prefix = f"{row}: {v:.3f} s vs flat band [{lo:.2f}-{hi:.2f}] (probe-independent)"
        if lo <= v <= hi:
            results.append((row, "inside", f"{prefix} — inside"))
            continue
        w = weather.get(row) if weather else None
        # A flat band conditions on nothing, so the episode reference is
        # the record's own ambient (trace median): weather at ambient
        # level is the day, not an episode (r16 ADVICE).
        gate = max(TRACE_LOUD_MS, REL_LOUD * tm) if tm is not None else TRACE_LOUD_MS
        if v > hi and w is not None and w >= gate:
            results.append((row, "weather",
                f"{prefix} — outside, but local weather {w:.0f} ms ≥ episode "
                f"gate {gate:.0f} (ambient median {tm:.0f}) — traced "
                "row-local loud episode, adjudicated as weather"))
        elif v > hi and w is not None:
            results.append((row, "outside",
                f"{prefix} — local weather {w:.0f} ms under the episode gate "
                f"{gate:.0f} (ambient median {tm:.0f}) — OUTSIDE"))
        elif v < lo:
            results.append((row, "fast",
                f"{prefix} — FAST-side miss (below the re-based new-code "
                "band) — investigate: weather cannot speed a row, so "
                "this is a measurement or plan anomaly"))
        else:
            results.append((row, "outside", f"{prefix} — OUTSIDE"))
    return results


def main(paths: list[str]) -> None:
    for path in paths:
        payload = json.loads(Path(path).read_text())
        if "queries" not in payload and isinstance(payload.get("parsed"), dict):
            payload = payload["parsed"]  # driver BENCH_r*.json nesting
        print(f"== {path}")
        for line in render(check(payload)):
            print(f"   {line}")
        outside = outside_rows(payload)
        if outside is not None:
            print(f"   band_outside: {outside}")
        weather = row_weather(payload)
        if weather:
            heavy = [r for r in (*FITS, *FLAT) if r in weather]
            if heavy:
                print(
                    "   row-local weather (trace, single-rep samples): "
                    + ", ".join(f"{r} {weather[r]:.0f}ms" for r in heavy)
                )


if __name__ == "__main__":
    args = sys.argv[1:] or [str(Path(__file__).resolve().parents[1] / "BENCH_local.json")]
    main(args)

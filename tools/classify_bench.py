#!/usr/bin/env python3
"""Label each spike in a bench leg as WEATHER or REGRESSION against the
quiet-band manifest (r12 VERDICT task 1 — the 127.7 s-vs-265.6 s story
the r12 verdict reconstructed by hand, as one command).

Usage: classify_bench.py [--band tools/quiet_band.json] BENCH_rNN.json

Method (calibrated on the r12 same-binary evidence: a throttled leg
shows a DIFFUSE median shift ~1.3x AND huge query-specific tail spikes
— 42x on a map-only filter — that move around between legs, while a
plan regression is query-specific AND reproducible on a quiet box):

 1. Leg-level box verdict first, from three independent signals:
    median ratio vs the band, the calibration preamble's spin ns/op vs
    the band legs' spin, and steal%. If ANY says throttled, per-query
    spikes cannot be trusted as regressions — they are labeled
    WEATHER-SUSPECT with a re-measure instruction (Bench, quiet box).
 2. On a quiet-verdict leg, a query is a REGRESSION CANDIDATE only if
    its ratio exceeds max(2, 2 x median) AND both of its runs agree
    (within 40%) — a weather gust usually hits one run of the
    back-to-back pair, a changed plan slows both equally. A candidate
    is still only a candidate: sustained LOCAL contention (a compile
    running next to the bench) passes every leg-level check, so the
    verdict for a candidate is one Bench re-measure on a quiet box,
    never this tool's word alone.

Exit status: number of REGRESSION-candidate queries (0 = clean or
throttled-leg-inconclusive; the leg verdict line says which).
"""
import argparse
import json
import statistics
import sys


def load_leg(path):
    with open(path) as f:
        leg = json.load(f)
    times, runs = {}, {}
    for q, rec in leg.get("queries", {}).items():
        if isinstance(rec, dict):
            t = rec.get("min")
            rr = [r for r in rec.get("runs", []) if r >= 0]
        else:
            t, rr = rec, []
        if t is not None and t >= 0:
            times[q] = t
            runs[q] = rr
    return leg, times, runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--band", default="tools/quiet_band.json")
    ap.add_argument("leg")
    args = ap.parse_args()

    with open(args.band) as f:
        manifest = json.load(f)
    band = manifest["band"]
    # filter None post_ns_per_op values (r13 ADVICE): a band built from
    # a pre-calibration leg would otherwise put None in the list and
    # min() would raise TypeError
    band_spins = [
        spin
        for leg in manifest.get("legs", [])
        for spin in [leg.get("calibration", {}).get("post_ns_per_op")]
        if spin is not None
    ]
    band_spin = min(band_spins) if band_spins else None

    leg, times, runs = load_leg(args.leg)
    shared = {q: (times[q], band[q]) for q in times if q in band and band[q] > 0}
    if not shared:
        sys.exit("no queries shared between leg and band")
    ratios = {q: t / b for q, (t, b) in shared.items()}
    med = statistics.median(ratios.values())

    calib = leg.get("calibration") or {}
    spin = calib.get("post_ns_per_op") or calib.get("pre_ns_per_op")
    steal = calib.get("steal_pct")
    spin_ratio = (spin / band_spin) if (spin and band_spin) else None

    print(f"leg: {args.leg}  total={leg.get('value')}s  "
          f"n={leg.get('n_queries')}  sf={leg.get('sf')}")
    print(f"calibration: spin={spin} ns/op"
          + (f" ({spin_ratio:.2f}x band)" if spin_ratio else "")
          + (f"  steal={steal}%" if steal is not None else ""))
    print(f"box factor: median ratio {med:.2f}x over {len(shared)} shared queries")

    throttle_reasons = []
    if med > 1.3:
        throttle_reasons.append(f"median ratio {med:.2f}x > 1.3")
    if spin_ratio and spin_ratio > 1.3:
        throttle_reasons.append(f"spin {spin_ratio:.2f}x band")
    # idle steal on this box is 2-4% (r12 verdict); only clearly
    # elevated steal marks the leg by itself
    if steal is not None and steal > 6.0:
        throttle_reasons.append(f"steal {steal}% > 6%")
    throttled = bool(throttle_reasons)
    print("leg verdict: "
          + (f"THROTTLED ({'; '.join(throttle_reasons)})" if throttled
             else "QUIET-comparable"))
    # since r14 the bench emits its own verdict into the leg JSON
    # (Bench.scala legVerdictJson, same three signals + thresholds);
    # cross-check that the embedded label agrees with this tool's
    embedded = leg.get("leg")
    if embedded is not None:
        agree = (embedded == "THROTTLED") == throttled
        print(f"embedded leg verdict: {embedded} "
              f"(band_median_ratio={leg.get('band_median_ratio')}) — "
              + ("agrees" if agree else "DISAGREES with this tool"))

    gate = max(2.0, 2.0 * med)
    regressions, suspects = [], []
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        if r <= gate:
            continue
        t, b = shared[q]
        rr = runs.get(q) or []
        agree = len(rr) >= 2 and max(rr) <= 1.4 * min(rr)
        line = (f"  {q:32s} {t:8.3f}s vs band {b:7.3f}s = {r:6.1f}x"
                f"  runs={'/'.join(f'{x:.2f}' for x in rr)}")
        if not throttled and agree:
            regressions.append(line)
        else:
            suspects.append(line)
    if regressions:
        print(f"REGRESSION CANDIDATES ({len(regressions)}) — quiet leg, "
              "both runs agree; confirm each with a Bench re-measure "
              "before treating as real:")
        print("\n".join(regressions))
    if suspects:
        label = ("WEATHER-SUSPECT (throttled leg — re-measure with Bench "
                 "on a quiet box before acting)"
                 if throttled else
                 "weather (runs disagree — a gust hit one run)")
        print(f"{label}: {len(suspects)}")
        print("\n".join(suspects[:15]))
        if len(suspects) > 15:
            print(f"  ... and {len(suspects) - 15} more")
    if not regressions and not suspects:
        print(f"no query above {gate:.1f}x the quiet band")
    sys.exit(len(regressions))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Empirical per-query scaling-curve report.

Usage: python3 tools/scaling_report.py <detail_small.json> <detail_big.json>
           [data_ratio] [out.json]

Inputs are two graft.Bench detail files (bench_detail.json) for the SAME
query set at two scale factors (typically sf0.01 and sf0.1 — a 10x data
step). For each query present in both, reports wall-clock growth
`big/small` — divided by the two files' calib_sec ratio when both carry
the fixed probe (cross-host comparability; `growth_raw` keeps the
uncalibrated number) — and flags super-linear outliers: growth > 1.2 * data_ratio
(default data_ratio 10 → flag > 12x) AND big >= 1.0 s (sub-second pairs
are fixed-overhead dominated — session/trigger cost, not operator cost —
so their ratios say nothing about the operator's complexity).

This is the all-queries empirical complement to ScaleSpec's per-operator
candidate-count tripwires: ScaleSpec bounds designed intermediates on a
handful of pair/explode ops; this bounds observed wall time on all of
them. Streaming drives are reported separately and never flagged — their
wall time is micro-batch machinery, constant in sf.

`out.json` defaults to scaling_report.json at the root of the checkout
holding this script.

Exit code 1 if any batch query is flagged.
"""
import json
import os
import sys

# fallback only, for detail files predating the emitted name list:
# substring guessing misfiles fuzz drives and events_attribution_outer
STREAM_MARKERS = ("_stream", "_stateful", "_tws", "_warm", "_poll")


def load(path):
    d = json.load(open(path))
    return ({k: v for k, v in d["queries"].items() if v >= 0},
            set(d.get("streaming_queries", [])),
            d.get("calib_sec", -1.0))


def main(argv):
    (small, stream_small, calib_small), (big, stream_big, calib_big) = \
        load(argv[1]), load(argv[2])
    # host calibration (VERDICT r13 #2): each detail carries calib_sec,
    # the wall time of a fixed scale-INDEPENDENT probe workload. When
    # both files carry one, growth is divided by the calib ratio before
    # flagging, so two runs taken on differently-loaded (or different)
    # hosts compare through the probe instead of raw wall clock.
    calib_ratio = (calib_big / calib_small
                   if calib_big > 0 and calib_small > 0 else 1.0)
    # the authoritative classification is SparkEntry.streamingQueries,
    # emitted by Bench into the detail file (union: either file knowing a
    # query is a drive is enough)
    stream_names = stream_small | stream_big

    def is_streaming(k):
        if stream_names:
            return k in stream_names
        return any(m in k for m in STREAM_MARKERS)
    data_ratio = float(argv[3]) if len(argv) > 3 else 10.0
    out_path = argv[4] if len(argv) > 4 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scaling_report.json")
    flag_ratio = 1.2 * data_ratio
    rows, flagged, streaming = [], [], []
    for k in sorted(set(small) & set(big)):
        raw = big[k] / small[k] if small[k] > 0 else float("inf")
        r = raw / calib_ratio
        entry = {"query": k, "small_sec": small[k], "big_sec": big[k],
                 "growth": round(r, 2), "growth_raw": round(raw, 2)}
        if is_streaming(k):
            streaming.append(entry)
        else:
            rows.append(entry)
            if big[k] >= 1.0 and r > flag_ratio:
                flagged.append(entry)
    rows.sort(key=lambda e: -e["growth"])
    report = {
        "data_ratio": data_ratio,
        "flag_threshold": flag_ratio,
        "calib_sec_small": calib_small,
        "calib_sec_big": calib_big,
        "calib_ratio": round(calib_ratio, 3),
        "n_compared": len(rows),
        "n_streaming_excluded": len(streaming),
        "flagged_superlinear": flagged,
        "top10_growth": rows[:10],
        "batch": rows,
        "streaming": streaming,
    }
    json.dump(report, open(out_path, "w"), indent=1)
    print(f"compared {len(rows)} batch queries at {data_ratio}x data; "
          f"{len(flagged)} flagged super-linear (> {flag_ratio:.0f}x wall)")
    for e in flagged:
        print(f"  !! {e['query']}: {e['small_sec']}s -> {e['big_sec']}s "
              f"({e['growth']}x)")
    print(f"top growth: " + ", ".join(
        f"{e['query']}={e['growth']}x" for e in rows[:5]))
    print(f"report: {out_path}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Suite-median-normalized comparison of two bench artifacts.

Host-speed variance (a new boot, a different machine, background load)
moves the WHOLE suite by a roughly uniform factor (measured r12: two
idle-box sweeps on a new VM boot read a median 1.16x over the previous
boot's sweep), while a real regression moves a FEW queries a lot.
Comparing raw per-query ratios therefore flags dozens of phantom
"regressions" after a reboot. The right lens:

  1. median ratio over all shared queries  = the host shift
  2. per-query ratio / median ratio        = the code signal

This tool applies that lens:

    python3 tools/compare_bench.py OLD.json NEW.json [--threshold 1.5]

Accepts Bench artifacts (the full BENCH_LIVE.json line, BENCH_r{N}.json
with a top-level "queries" map, or a driver artifact whose "parsed"
field holds one). Failed cells (-1) are left out of the ratios and
listed. Exit code 1 iff any query's MEDIAN-NORMALIZED ratio exceeds the
threshold (default 1.5x) in either direction — those are the cells
worth reading code for.
"""
import argparse
import json
import statistics
import sys


def load_doc(path):
    with open(path) as f:
        doc = json.load(f)
    if isinstance(doc.get("queries"), dict):
        return doc
    parsed = doc.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return parsed
    raise SystemExit(f"{path}: no 'queries' map found")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5,
                    help="flag |median-normalized ratio| past this (default 1.5)")
    ap.add_argument("--min-sec", type=float, default=0.1,
                    help="ignore queries under this many seconds in BOTH "
                         "artifacts (sub-100ms cells are timer noise)")
    args = ap.parse_args()

    qo, qn = load_doc(args.old)["queries"], load_doc(args.new)["queries"]
    for side, q in (("OLD", qo), ("NEW", qn)):
        failed = sorted(k for k, v in q.items() if v < 0)
        if failed:
            print(f"{side} failed cells ({len(failed)}): {', '.join(failed)}")
    shared = [k for k in qn
              if k in qo and max(qo[k], qn[k]) >= args.min_sec
              and min(qo[k], qn[k]) > 0]
    if not shared:
        raise SystemExit("no shared measurable queries")

    ratios = {k: qn[k] / qo[k] for k in shared}
    med = statistics.median(ratios.values())
    print(f"shared queries: {len(shared)}   "
          f"total: {sum(qo[k] for k in shared):.1f}s -> "
          f"{sum(qn[k] for k in shared):.1f}s")
    print(f"median per-query ratio (the host shift): {med:.3f}")

    flagged = sorted(((ratios[k] / med, ratios[k], k) for k in shared
                      if not 1 / args.threshold <= ratios[k] / med
                      <= args.threshold), reverse=True)
    if flagged:
        print(f"\n{len(flagged)} cells move past {args.threshold}x "
              f"AFTER removing the median shift (read code for these):")
        for norm, r, k in flagged:
            print(f"  {k:38s} {qo[k]:8.3f}s -> {qn[k]:8.3f}s   "
                  f"raw x{r:.2f}   vs-suite x{norm:.2f}")
    else:
        print(f"\nno cell moves past {args.threshold}x once the median "
              f"shift is removed: uniform host delta, no code signal")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()

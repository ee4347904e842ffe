#!/usr/bin/env python3
"""Print the README status-line numbers from a committed bench sidecar.

Usage: python3 scripts/bench_summary.py [bench_out.json] [prev.json]

Dev-only (driver-side python). The sidecar is written by `graft.Bench`
(best-of-N over SPARK_GRAFT_BENCH_REPS reps, default 3, after a
sf0.001 warmup pass); the driver's BENCH_r{N}.json keeps only a
truncated stdout tail, so docs/bench/r{N}.json + bench_out.json are
the durable artifacts. Every number quoted in README.md §Status must
be reproducible by running this script on the committed sidecar.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main():
    cur = load(sys.argv[1] if len(sys.argv) > 1 else "bench_out.json")
    qs = {k: v for k, v in cur["queries"].items() if v >= 0}
    fails = [k for k, v in cur["queries"].items() if v < 0]
    setup = cur.get("setup", {})
    total = sum(qs.values()) + sum(setup.values())
    n = len(qs)
    print(f"sf dir:        {cur['sf']}")
    print(f"queries:       {n} timed" +
          (f", {len(fails)} FAILED: {fails}" if fails else ""))
    print(f"total:         {total:.1f}s  ({total / n:.3f} s/query, "
          f"incl. {sum(setup.values()):.1f}s shared setup)")
    top = sorted(qs.items(), key=lambda kv: -kv[1])[:5]
    print("top-5 cost:    " +
          ", ".join(f"{k} {v:.2f}s" for k, v in top))
    if setup:
        stop = sorted(setup.items(), key=lambda kv: -kv[1])[:5]
        print("top-5 setup:   " +
              ", ".join(f"{k} {v:.2f}s" for k, v in stop))
    spread = cur.get("spread", {})
    if spread:
        wide = sorted(spread.items(), key=lambda kv: -kv[1])[:5]
        print("worst spread:  " +
              ", ".join(f"{k} {v:.1f}x" for k, v in wide) +
              "  (max/min across reps; >>1 = host noise on that row)")
    if len(sys.argv) > 2:
        prev = load(sys.argv[2])["queries"]
        common = {k: v for k, v in qs.items() if prev.get(k, -1) >= 0}
        pc = sum(prev[k] for k in common)
        cc = sum(common.values())
        print(f"vs prev:       {cc:.1f}s vs {pc:.1f}s over "
              f"{len(common)} common queries ({cc / pc:.2f}x)")
        regress = sorted(((k, v, prev[k]) for k, v in common.items()
                          if v > prev[k] * 1.25 and v - prev[k] > 0.5),
                         key=lambda t: -(t[1] - t[2]))[:8]
        for k, v, p in regress:
            print(f"  regressed:   {k} {p:.2f}s -> {v:.2f}s")


if __name__ == "__main__":
    main()

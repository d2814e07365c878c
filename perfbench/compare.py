#!/usr/bin/env python3
"""Summarise saved benchmark runs (each file holds one run's stdout).

    python3 perfbench/compare.py RUN_FILE...
        per workload and end-to-end metric: median, quartiles, and the
        quartile spread as a share of the median, against a third of
        the metric's bound in BENCHMARK.json
    python3 perfbench/compare.py --base RUN_FILE... --head RUN_FILE...
        per workload and metric: how much worse the head median is than
        the base median, against the metric's bound

Refuses runs recorded at different core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402


def load(paths) -> list[tuple[dict, dict]]:
    runs = []
    for p in paths:
        with open(p) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        if not lines or not lines[-1].startswith('{"correct"'):
            print(f"skipping {p}: no result line", file=sys.stderr)
            continue
        meta = next((json.loads(ln)["meta"] for ln in lines
                     if ln.startswith('{"meta"')), {})
        runs.append((meta, json.loads(lines[-1])))
    return runs


def by_workload(runs) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for meta, res in runs:
        per = out.setdefault(meta.get("workload", "?"), {})
        for name, m in res["metrics"].items():
            per.setdefault(name, []).append(m["value"])
    return out


def check_cores(runs) -> None:
    seen = {meta.get("cores") for meta, _ in runs}
    if len(seen) != 1:
        sys.exit(f"refusing to compare runs recorded at core counts {seen}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("runs", nargs="*")
    ap.add_argument("--base", nargs="*")
    ap.add_argument("--head", nargs="*")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}

    if args.base and args.head:
        base, head = load(args.base), load(args.head)
        check_cores(base + head)
        b, h = by_workload(base), by_workload(head)
        bad = 0
        for wl in sorted(b.keys() & h.keys()):
            for name in sorted(b[wl].keys() & h[wl].keys() & spec.keys()):
                mb = statistics.median(b[wl][name])
                mh = statistics.median(h[wl][name])
                sign = 1 if spec[name]["better"] == "lower" else -1
                worse = sign * (mh - mb) / mb
                flag = worse > spec[name]["bound"]
                bad += flag
                print(f"{wl:6s} {name:24s} base {mb:14.4f} head {mh:14.4f} "
                      f"worse {worse:+.3f} bound {spec[name]['bound']}"
                      f"{'  REGRESSION' if flag else ''}")
        return 1 if bad else 0

    runs = load(args.runs)
    check_cores(runs)
    failed = sum(not res["correct"] for _, res in runs)
    print(f"{len(runs)} runs, {failed} not correct")
    wide = 0
    for wl, per in sorted(by_workload(runs).items()):
        for name, vals in sorted(per.items()):
            if name not in spec or len(vals) < 2:
                continue
            sp = spread(vals)
            limit = spec[name]["bound"] / 3
            over = sp > limit and name != "setup_s"
            wide += over
            print(f"{wl:6s} {name:24s} n={len(vals):2d} "
                  f"median {statistics.median(vals):14.4f} spread {sp:.4f} "
                  f"(a third of the bound: {limit:.4f}){'  WIDE' if over else ''}")
    return 1 if wide or failed else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Diff two traced benchmark reports layer by layer.

    python3 perfbench/layerdiff.py BASE_REPORT CHANGE_REPORT

Each report is the `.bench_work/report-<workload>-s<seed>-t1.json` a
`--trace 1` run writes. For every layer (span name) it prints the self time
and every counter, and then every per-layer metric, each with its base, the
change, the delta and the ratio (change / base; blank when the base is 0).
"""
import json
import sys


def _row(layer, key, base, change):
    ratio = change / base if base else None
    return (layer, key, base, change, change - base, ratio)


def rows(base, change):
    out = []
    bl, cl = base.get("layers", {}), change.get("layers", {})
    empty = {"calls": 0, "self_s": 0.0, "counters": {}}
    for layer in sorted(set(bl) | set(cl)):
        b, c = bl.get(layer, empty), cl.get(layer, empty)
        out.append(_row(layer, "self_s", b["self_s"], c["self_s"]))
        for k in sorted(set(b["counters"]) | set(c["counters"])):
            out.append(_row(layer, k, b["counters"].get(k, 0), c["counters"].get(k, 0)))
    bm, cm = base.get("metrics", {}), change.get("metrics", {})
    for k in sorted(set(bm) | set(cm)):
        out.append(_row("metric", k, bm.get(k, {}).get("value", 0.0),
                        cm.get(k, {}).get("value", 0.0)))
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, change = (json.load(open(p)) for p in argv[1:])
    for who, r in (("base", base), ("change", change)):
        print(f"# {who}: {r.get('workload')} seed {r.get('seed')} commit {r.get('commit')} "
              f"cpus {r.get('cpus')} contended {r.get('contended')} "
              f"calibration_s {r.get('calibration_s')}")
    print(f"{'layer':<28} {'counter':<32} {'base':>14} {'change':>14} {'delta':>14} {'ratio':>8}")
    for layer, key, b, c, d, ratio in rows(base, change):
        rs = f"{ratio:8.3f}" if ratio is not None else " " * 8
        print(f"{layer:<28} {key:<32} {b:14.4f} {c:14.4f} {d:14.4f} {rs}")


if __name__ == "__main__":
    main(sys.argv)

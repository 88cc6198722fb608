"""Compares run records kept under `.bench_build/perfbench/records/`.

    python3 perfbench/compare.py A.json B.json   # end-to-end metrics side by side

Records taken at different (cores, heap) are refused: record counts and
walls move with parallelism and memory, so such a pair says nothing about
the engine. A traced run also reports its tracing overhead: its wall_s
against the median wall_s of the untraced records of the same workload and
configuration.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def print_overhead(records_dir, workload, cores, heap_mb):
    """Prints the traced run's wall_s against untraced runs' median."""
    traced, plain = [], []
    for p in glob.glob(os.path.join(records_dir, f"{workload}-seed*-trace*.json")):
        r = load(p)
        if (r["cores"], r["heap_mb"]) != (cores, heap_mb):
            continue
        (traced if r["trace"] else plain).append(r["end_to_end"]["wall_s"])
    if not plain:
        print("tracing overhead: no untraced record of this workload and "
              "configuration to compare with")
        return
    t, u = statistics.median(traced), statistics.median(plain)
    print(f"tracing overhead: traced wall_s {t:.4f} s (n={len(traced)}) vs "
          f"untraced {u:.4f} s (n={len(plain)}): {100 * (t / u - 1):+.1f}%")


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    if (a["cores"], a["heap_mb"]) != (b["cores"], b["heap_mb"]):
        raise SystemExit(f"refusing to compare runs at different (cores, heap): "
                         f"({a['cores']}, {a['heap_mb']} MB) vs ({b['cores']}, {b['heap_mb']} MB)")
    if a["workload"] != b["workload"]:
        raise SystemExit("refusing to compare different workloads")
    for r in (a, b):
        if r["floor_flagged"]:
            print(f"note: seed {r['seed']} ran with an elevated noise floor")
    for k, va in a["end_to_end"].items():
        vb = b["end_to_end"].get(k)
        if vb is None:
            continue
        rel = f"{100 * (vb / va - 1):+.1f}%" if va else "n/a"
        print(f"{k:<14} {va:>12.6g} {vb:>12.6g} {rel}")


if __name__ == "__main__":
    main()

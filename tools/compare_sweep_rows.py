#!/usr/bin/env python3
"""Compare two random-sweep outputs row by row at full precision.

The perfbench sweep checksum hashes the sweep's rows in order, so a
change that only reorders configs with equal averages (tie order) or
moves an average by an ulp reads as a different checksum. Write the
sweep of each checkout with the CLI (it runs the series_loop call at its
defaults: 30 configs, seeds 1-3, n_samples 1575, seed 42):

    python3 -c "import os, sys; sys.path.insert(0, 'perfbench'); import inputs; \\
        os.makedirs('/tmp/sl', exist_ok=True); inputs.series_loop('/tmp/sl', 84)"
    sbt -batch "runMain graft.cli.Cli --mode optimize --input /tmp/sl/series.csv \\
        --sweep_out /tmp/sweep_a"        # in each checkout, to sweep_a / sweep_b
    python3 tools/compare_sweep_rows.py /tmp/sweep_a /tmp/sweep_b

Rows are matched by config_id. Prints every difference and exits 1 unless
each one is explained: the same (config_id, n_bins, smooth, n_seeds), an
avg_score and std_score within 2 ulp of the average, and rows that change
place only among rows whose averages are within 2 ulp of each other.
"""
import csv
import glob
import math
import os
import sys


def rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.csv"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out += [r for r in csv.DictReader(fh)]
    return out


def close(a, b, scale):
    return abs(a - b) <= 2 * math.ulp(scale)


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = rows(argv[1]), rows(argv[2])
    by_id = [{r["config_id"]: r for r in side} for side in (a, b)]
    bad, ulp_only = [], 0
    if set(by_id[0]) != set(by_id[1]):
        bad.append(f"config ids differ: {sorted(set(by_id[0]) ^ set(by_id[1]))}")
    for cid in sorted(set(by_id[0]) & set(by_id[1]), key=int):
        ra, rb = by_id[0][cid], by_id[1][cid]
        for k in ("n_bins", "smooth", "n_seeds"):
            if ra[k] != rb[k]:
                bad.append(f"config {cid}: {k} {ra[k]} vs {rb[k]}")
        avg_a, avg_b = float(ra["avg_score"]), float(rb["avg_score"])
        for k in ("avg_score", "std_score"):
            x, y = float(ra[k]), float(rb[k])
            if x != y:
                if close(x, y, avg_a):
                    ulp_only += 1
                else:
                    bad.append(f"config {cid}: {k} {x!r} vs {y!r}")
    # a row may change place only among rows with (nearly) equal averages
    order = [[r["config_id"] for r in side] for side in (a, b)]
    moved = [i for i, (x, y) in enumerate(zip(*order)) if x != y]
    for i in moved:
        x, y = by_id[0][order[0][i]], by_id[0].get(order[1][i])
        if y is None or not close(float(x["avg_score"]), float(y["avg_score"]),
                                  float(x["avg_score"])):
            bad.append(f"position {i}: config {order[0][i]} vs {order[1][i]} "
                       "with unequal averages")
    print(f"{len(a)} vs {len(b)} rows; {len(moved)} positions hold another config "
          f"(tie order); {ulp_only} values differ by at most 2 ulp")
    for line in bad:
        print("UNEXPLAINED " + line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Compare the outputs of two checkouts' perfbench runs on the same seeds.

perfbench checks that a run's candidate and sweep checksums and curate
funnels match earlier runs of the SAME checkout (.bench_build/expected).
This script checks them ACROSS checkouts: for every record file name
(<workload>-s<seed>-trace<0|1>.json) found under both
<a>/.bench_build/records and <b>/.bench_build/records, it compares every
op's `checksum` and `funnel`, keyed by (op name, op key).

    python3 tools/compare_bench_records.py <parent checkout> <change checkout>

Prints one line per shared record and exits 1 when any value differs, a
value is missing on one side, or the two checkouts share no record.
"""
import json
import os
import sys


def outputs(path):
    with open(path) as f:
        rec = json.load(f).get("record", {})
    out = {}
    for op in rec.get("ops", []):
        for field in ("checksum", "funnel"):
            if field in op:
                key = f"{op['name']}|{op.get('key', '')}|{field}|pass{op.get('pass', 0)}"
                out[key] = op[field]
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    dirs = [os.path.join(d, ".bench_build", "records") for d in argv[1:]]
    names = [set(n for n in os.listdir(d) if n.endswith(".json"))
             if os.path.isdir(d) else set() for d in dirs]
    shared = sorted(names[0] & names[1])
    if not shared:
        print("no record shared by both checkouts")
        return 1
    bad = 0
    for name in shared:
        a, b = (outputs(os.path.join(d, name)) for d in dirs)
        diffs = [k for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)]
        if not a:
            diffs.append("(no checksum or funnel recorded)")
        bad += bool(diffs)
        print(f"{name}: {'DIFFERENT ' + ', '.join(diffs) if diffs else 'same'} "
              f"({len(a)} values)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

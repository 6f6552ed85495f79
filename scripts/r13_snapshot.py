#!/usr/bin/env python
"""Snapshot registered-query results for before/after equivalence checks:
run ``--out`` at the parent commit and ``--check`` at the change.

Writes (or compares against) a JSON file of per-query result digests:
sha256 over the order-insensitive normalized rows (same normalization as
tests/test_oracle_parity.py), at one or more SF dirs.

Usage:
  python scripts/r13_snapshot.py --out /tmp/snap.json --sf 0.001,0.01,0.1 q1 q2
  python scripts/r13_snapshot.py --check /tmp/snap.json --sf 0.001,0.01,0.1 q1 q2
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from test_oracle_parity import _normalize_rows  # noqa: E402


def digest(sdf) -> tuple[str, int]:
    cols = [c.lower() for c in sdf.columns]
    rows = [tuple(r) for r in sdf.collect()]
    normed = _normalize_rows(cols, rows)
    h = hashlib.sha256(repr((sorted(cols), normed)).encode()).hexdigest()
    return h, len(rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--check")
    ap.add_argument("--sf", default="0.001,0.01,0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    args.sf = args.sf.split(",")

    import bench

    eng, spark, registry = bench._make_session("ddf-r13-snapshot")
    out: dict[str, dict[str, list]] = {}
    for sf in args.sf:
        sf_dir = f"/root/testdata/sf{sf}"
        registry.tables(spark, sf_dir)
        for name in args.queries:
            h, n = digest(registry.QUERIES[name](spark, sf_dir))
            out.setdefault(name, {})[sf] = [h, n]
            print(f"{name} sf{sf}: {n} rows {h[:16]}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {args.out}")
    if args.check:
        ref = json.load(open(args.check))
        bad = []
        for name, per_sf in out.items():
            for sf, (h, n) in per_sf.items():
                want = ref.get(name, {}).get(sf)
                if want is None:
                    print(f"MISSING baseline {name} sf{sf}")
                    continue
                if want != [h, n]:
                    bad.append((name, sf, want, [h, n]))
        if bad:
            for b in bad:
                print("MISMATCH", b)
            sys.exit(1)
        print("ALL MATCH")


if __name__ == "__main__":
    main()

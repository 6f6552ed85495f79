#!/usr/bin/env python
"""Re-measure a SUBSET of scaling probes across the tiers already recorded
in SCALING.json and merge the fresh numbers into the artifact in place.

Why: a full five-tier run is ~2.5 h; when one operator's implementation
changes (r10: dedup_semdedup's sub-bucket refinement) or one number is
contested (r9: a busy-host tail), only ITS rows need re-measurement.  This
script reconstructs the prior artifact's per-tier results (the same
reconstruction the parent's SPARK_GRAFT_SCALING_REUSE path uses), overlays
fresh child measurements for the named probes, and rewrites SCALING.json
through the same _write_artifact so every exponent column is recomputed by
the identical code path.

Methodology is unchanged from scaling_probe.py: one fresh child process
per tier (no inherited JVM state), the tier's recorded sample count,
clearCache + GC isolation inside the child.

STANDING PROTOCOL (README "Standing protocol"): a refresh for
TOUCHED code must include at least one probe whose code is UNCHANGED
since its committed row — the same-day untouched control.  The
control's ratio to its committed value is that session's measured host
factor; the touched probes' movements are adjudicated against it.  The
sf100 tier's wall-clocks sit in an I/O-scheduling regime that CPU speed
does not show (measured ~2x cross-day swings on identical code); a
refresh without a control is a borrowed-drift number.

Usage: python scripts/refresh_probe.py dedup_semdedup [more names ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling_probe import (  # noqa: E402
    PROBES,
    SF1_PROBES,
    SF10_PROBES,
    SF100_PROBES,
    _write_artifact,
)

_LABEL = {"lo": "sf0.01", "hi": "sf0.1", "xhi": "sf1",
          "x2hi": "sf10", "x3hi": "sf100"}
_TIER_LIST = {"lo": PROBES, "hi": PROBES, "xhi": SF1_PROBES,
              "x2hi": SF10_PROBES, "x3hi": SF100_PROBES}
_SAMPLES_KEY = {"x2hi": "x2hi", "x3hi": "x3hi"}


def reconstruct(prior: dict, dirs: dict) -> dict:
    """Per-tier results dicts from a committed SCALING.json — EVERY tier
    with recorded rows, not just the complete ones (r10 review): a failed
    tier's salvaged probes are real min-of-N measurements the salvage
    machinery exists to preserve; dropping them here would silently erase
    them from the rewritten artifact while failed_tiers still claimed
    they were salvaged.  Salvage flags survive the round trip."""
    results: dict[str, dict] = {}
    for role in dirs:
        sec_k, rows_k = f"sec_{_LABEL[role]}", f"rows_{_LABEL[role]}"
        rows = {}
        for name, p in prior["probes"].items():
            if sec_k not in p:
                continue
            rows[name] = {"sec": p[sec_k], "rows": p[rows_k]}
            if p.get(f"salvaged_{_LABEL[role]}"):
                rows[name]["salvaged"] = True
        if rows or role in (prior.get("tiers_complete") or []):
            results[dirs[role]] = rows
    return results


def main(names: list[str]) -> None:
    recompute_only = False
    if names and names[0] == "--recompute":
        # Rewrite SCALING.json through the current _write_artifact with NO
        # new measurements — picks up newly added derived columns (e.g.
        # the r11 marginal per-decade exponents) for every recorded row.
        recompute_only = True
        names = names[1:]
    only_tiers = None
    if names and names[0].startswith("--tiers="):
        # e.g. --tiers=lo,hi : re-measure the named probes at a subset of
        # tiers only (fresh small-SF baselines without repeating the
        # multi-minute upper decades); other tiers keep their recorded
        # rows through the reconstruction below.
        only_tiers = set(names[0].split("=", 1)[1].split(","))
        names = names[1:]
    with open(os.path.join(REPO, "SCALING.json")) as f:
        prior = json.load(f)
    unknown = [n for n in names if n not in prior["probes"]]
    if unknown:
        raise SystemExit(f"unknown probes: {unknown}")
    dirs = {role: prior[role] for role in _LABEL if prior.get(role)}
    results = reconstruct(prior, dirs)
    samples = prior.get("samples") or {}
    remeasured: set[tuple[str, str]] = set()
    for role in [] if recompute_only else (prior.get("tiers_complete") or []):
        if only_tiers is not None and role not in only_tiers:
            continue
        subset = [n for n in names if n in _TIER_LIST[role]]
        if not subset:
            continue
        n_samples = samples.get(_SAMPLES_KEY.get(role, "default"),
                                samples.get("default", 3))
        env = dict(
            os.environ,
            SPARK_GRAFT_SCALING_SECTION=dirs[role],
            SPARK_GRAFT_SCALING_ROLE=role,
            SPARK_GRAFT_SCALING_ONLY=",".join(subset),
            SPARK_GRAFT_SCALING_SAMPLES=str(n_samples),
        )
        sys.stderr.write(f"[refresh {role}] {subset} (min-of-{n_samples})\n")
        proc = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "scaling_probe.py")],
            env=env, stdout=subprocess.PIPE, text=True, cwd=REPO,
        )
        if proc.returncode != 0:
            raise SystemExit(f"child failed for tier {role}")
        fresh = json.loads(proc.stdout.strip().splitlines()[-1])
        results[dirs[role]].update(fresh)
        for name, m in fresh.items():
            remeasured.add((role, name))
            sys.stderr.write(
                f"[refresh {role}] {name}: {m['sec']}s rows={m['rows']}\n"
            )
    # r10 advice: a requested probe whose rows at some tier were NOT
    # re-measured keeps the prior (possibly salvaged/stale) numbers in the
    # rewritten artifact — say so loudly instead of merging silently.  A
    # tier can be skipped because the caller excluded it (--tiers=), or —
    # the dangerous case — because it is absent from tiers_complete (a
    # failed tier whose rows exist only via sidecar salvage).  Under
    # --recompute NO measurement was requested at all (r11 advice: the
    # "child returned no measurement" diagnosis would be misleading), so
    # the kept-row warnings are skipped entirely.
    for name in [] if recompute_only else names:
        for role in dirs:
            has_row = f"sec_{_LABEL[role]}" in prior["probes"][name]
            in_list = name in _TIER_LIST[role]
            if not has_row or not in_list or (role, name) in remeasured:
                continue
            if only_tiers is not None and role not in only_tiers:
                why = "excluded by --tiers"
            elif role not in (prior.get("tiers_complete") or []):
                why = (
                    "tier not in tiers_complete (failed tier — its rows "
                    "came from sidecar salvage and are now STALE for this "
                    "probe; re-run the tier to refresh them)"
                )
            else:  # pragma: no cover - child ran but dropped the probe
                why = "tier child returned no measurement"
            sys.stderr.write(
                f"WARNING: {name} keeps its prior {_LABEL[role]} row "
                f"({why})\n"
            )
    _write_artifact(
        results, prior.get("failed_tiers") or [],
        prior.get("tiers_complete") or [],
        dirs.get("lo"), dirs.get("hi"), dirs.get("xhi"),
        dirs.get("x2hi"), dirs.get("x3hi"),
    )
    with open(os.path.join(REPO, "SCALING.json")) as f:
        refreshed = json.load(f)
    for n in names:
        print(n, json.dumps(refreshed["probes"][n]))
    print("merged into SCALING.json")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    main(sys.argv[1:])

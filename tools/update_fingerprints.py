"""Maintain tools/query_fingerprints.json — the content fingerprints
stamped at each query's last driver verification.

The rotation in __spark_entry__._ordered_names treats a query whose
CURRENT fingerprint (oracle SQL + impl source, see
__spark_entry__.query_fingerprint) differs from its stamped one as
unverified, pulling it to the front of the driver's 50-query window.
This tool is the stamping side:

  python tools/update_fingerprints.py            # stamp queries with a
        green hash_match row in the LATEST CORRECTNESS_r*.json
  python tools/update_fingerprints.py --all      # stamp every query
        (use only when local verify_oracle covered the full surface)
  python tools/update_fingerprints.py --invalidate nameA nameB
        # drop stamps (e.g. a shared helper changed under its queries)
  python tools/update_fingerprints.py --report [--stale-after=3]
        # per-query driver-verification age: with 163 queries and a
        # 50-row driver window a full re-verification cycle takes ~3.3
        # rounds, so queries whose last green driver row is >= 3 rounds
        # old are listed explicitly — staleness stays visible in the
        # round notes instead of hiding in the rotation
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod

FP_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "query_fingerprints.json")


def _latest_green() -> set[str]:
    best_round, best = -1, {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if rnd > best_round:
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            if isinstance(rec, dict):
                best_round, best = rnd, rec
    return {n for n, row in best.items()
            if isinstance(row, dict) and row.get("hash_match")}


def _green_by_round() -> dict[int, set[str]]:
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict):
            out[int(m.group(1))] = {
                n for n, row in rec.items()
                if isinstance(row, dict) and row.get("hash_match")}
    return out


def report(stale_after: int) -> None:
    fns, _ = entrymod._bases()
    by_round = _green_by_round()
    if not by_round:
        print("no CORRECTNESS_r*.json artifacts found")
        return
    current = max(by_round) + 1  # the round being built now
    last: dict[str, int] = {}
    for rnd, names in by_round.items():
        for n in names:
            last[n] = max(last.get(n, -1), rnd)
    ages = {n: (current - last[n] if n in last else None) for n in fns}
    stale = sorted((n for n, a in ages.items()
                    if a is None or a >= stale_after),
                   key=lambda n: (-(ages[n] or 10**6), n))
    fresh = len(fns) - len(stale)
    print(f"driver-verification age (current round r{current}, window "
          f"{max(len(v) for v in by_round.values())}/round): "
          f"{fresh}/{len(fns)} verified within {stale_after - 1} rounds")
    for n in stale:
        a = ages[n]
        print(f"  STALE {n}: " + (f"last green r{last[n]} ({a} rounds ago)"
                                  if a is not None else "never driver-verified"))
    if not stale:
        print("  (none stale)")


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--report":
        stale_after = int(next((a.split("=", 1)[1] for a in args
                                if a.startswith("--stale-after=")), "3"))
        report(stale_after)
        return
    stored = entrymod._stored_fingerprints()
    fns, sql = entrymod._bases()
    if args and args[0] == "--invalidate":
        dropped = [n for n in args[1:] if stored.pop(n, None) is not None]
        print(f"invalidated {len(dropped)}: {dropped}")
    else:
        stamp = set(fns) if "--all" in args else _latest_green() & set(fns)
        for n in sorted(stamp):
            stored[n] = entrymod.query_fingerprint(n, fns[n], sql.get(n))
        print(f"stamped {len(stamp)} of {len(fns)} queries")
    with open(FP_PATH, "w") as f:
        json.dump(dict(sorted(stored.items())), f, indent=1)
    print(f"wrote {FP_PATH} ({len(stored)} entries)")


if __name__ == "__main__":
    main()

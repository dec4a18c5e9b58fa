#!/usr/bin/env python
"""Noise-aware cross-round bench comparison — codifies the noise model
learned in rounds 2-5 so a per-query swing is classified, not argued
about.

The host has co-tenant bursts worth ±30-50% on sub-second queries
(measured: round-5's isolated fresh-session tpch_q1 min-of-5 was 0.458 s
against a recorded 0.381 s from the r2-era host — byte-identical plan).
BENCH_DETAIL.json therefore records per-query steady samples and
``steady_spread`` = (max-min)/min.  Rules, in order:

1. spread > 0.30 on either side ⇒ NOISY — the measurement itself is
   untrustworthy; rerun bench.py exclusively before reading the ratio.
2. ratio > 1 + max(0.15, spread_old + spread_new) ⇒ REGRESSED — the
   change exceeds what the recorded jitter can explain; root-cause it
   (plan diff via PLANS.md first).  An old cell with no recorded spread
   takes the new run's spread on both sides (unknown is not zero; zero
   reads host drift as REGRESSED) and prints ``spr_o`` as ``—``.
3. ratio < 1 / 1.15 ⇒ IMPROVED.
4. otherwise ⇒ ok (within noise).

Usage: python tools/bench_compare.py OLD.json [NEW.json]
  OLD.json  a BENCH_r{N}.json contract line or BENCH_DETAIL.json
  NEW.json  default BENCH_DETAIL.json (current round)
Exit code 1 if any query is REGRESSED (NOISY does not fail — it demands
a rerun, not a revert).
"""

from __future__ import annotations

import json
import os
import sys

SPREAD_NOISY = 0.30
RATIO_FLOOR = 0.15


def _load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]  # driver BENCH_r{N}.json wrapper
    return d.get("queries", {}) or {}, d.get("steady_spread", {}) or {}


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    old_path = sys.argv[1]
    new_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_DETAIL.json",
    )
    old_q, old_s = _load(old_path)
    new_q, new_s = _load(new_path)
    common = [q for q in new_q if q in old_q]
    regressed = []
    rows = []
    unrecorded = [q for q in common if q not in old_s]
    for q in common:
        o, n = old_q[q], new_q[q]
        sn = new_s.get(q, 0.0)
        so = old_s.get(q, sn)
        ratio = n / o if o else float("inf")
        if max(so, sn) > SPREAD_NOISY:
            verdict = "NOISY"
        elif ratio > 1 + max(RATIO_FLOOR, so + sn):
            verdict = "REGRESSED"
            regressed.append(q)
        elif ratio < 1 / (1 + RATIO_FLOOR):
            verdict = "IMPROVED"
        else:
            verdict = "ok"
        rows.append((q, o, n, ratio, so, sn, verdict))
    rows.sort(key=lambda r: -r[3])
    w = max((len(r[0]) for r in rows), default=10)
    print(f"{'query':<{w}}  {'old':>7}  {'new':>7}  {'ratio':>6}  "
          f"{'spr_o':>5}  {'spr_n':>5}  verdict")
    for q, o, n, ratio, so, sn, verdict in rows:
        spr_o = f"{so:5.2f}" if q in old_s else f"{'—':>5}"
        print(f"{q:<{w}}  {o:7.3f}  {n:7.3f}  {ratio:6.2f}  "
              f"{spr_o}  {sn:5.2f}  {verdict}")
    if not common:
        print(f"no common queries between {old_path} and {new_path}")
        return 2
    tot_o = sum(old_q[q] for q in common)
    tot_n = sum(new_q[q] for q in common)
    print(f"\n{len(common)} common queries: {tot_o:.2f}s -> {tot_n:.2f}s "
          f"({tot_n / tot_o:.2f}x); {len(regressed)} regressed; "
          f"{len(unrecorded)} without a recorded old spread")
    if regressed:
        print("REGRESSED:", ", ".join(sorted(regressed)))
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())

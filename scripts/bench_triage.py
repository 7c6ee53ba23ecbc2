#!/usr/bin/env python
"""Cross-round bench drift adjudication (r12 verdict ask #2).

Every round opens with the same manual chore: BENCH_r{N} moved vs
BENCH_r{N-1} — which per-query deltas are box drift (the storage
layer's writeback makes identical legs drift minutes apart,
SCALE_NOTES r17) and which demand a re-pin or a code look?  This
script encodes the adjudication protocol the r11/r12 verdicts applied
by hand and emits it as an artifact, so the verdict's perf section is
writable from one file.

    python scripts/bench_triage.py 13            # r12 -> r13
    python scripts/bench_triage.py 13 --pins BENCH_PINS_R13.json

Reads BENCH_r{N-1}.json / BENCH_r{N}.json (driver artifacts: the
printed JSON line under ``parsed``), plus the optional idle-box pin
file of per-query re-measurements, like BENCH_PINS_R13.json
({"queries": {q: sec}}).  Writes BENCH_TRIAGE_r{N}.json.

Per-query verdicts, in decision order:

* ``stable``     — ratio within [1/T, T] (T = 1.5, the band the
                   sentinel legs drift across on a HEALTHY box).
* ``improved``   — faster than 1/T; no action.
* ``pinned-drift`` / ``pinned-regression`` — a pin file covers the
  query: the idle-box re-measurement adjudicates directly (pin within
  T of the previous round ⇒ the spike was the box; pin confirming the
  new number ⇒ real, fix it).
* ``drift-consistent`` — slower than T, but the window's own sentinel
  legs degraded by at least half the query's ratio: the box moved,
  not the code.
* ``small-absolute`` — slower than T but the absolute is within
  SMALL_ABS (default 0.75 s) of the previous round: sub-second
  jitter on a shared box, not worth a pin unless it recurs.
* ``needs-pin``  — slower than T with no sentinel/pin explanation.
  The actionable bucket: re-pin on an idle box (repin protocol:
  fresh JVM, warm-up + min-of-5, sentinel-bracketed).

``needs-pin`` deliberately never says "regressed": a dirty-box sample
cannot convict code (q3's r11 1.252 s was acquitted by three r12
pins).  Only a pin file can return ``pinned-regression``.
"""
from __future__ import annotations

import argparse
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T = 1.5
SMALL_ABS = 0.75


def _load_round(n: int) -> dict | None:
    p = os.path.join(REPO, f"BENCH_r{n:02d}.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        doc = json.load(fh)
    return doc.get("parsed") or doc


def _sentinel_mean(parsed: dict) -> float | None:
    s = parsed.get("sentinel_sf")
    if not s:
        return None
    vals = [v for v in s.values() if isinstance(v, (int, float))]
    return sum(vals) / len(vals) if vals else None


def triage(
    prev: dict,
    cur: dict,
    pins: dict[str, float] | None = None,
    idle: dict[str, float] | None = None,
) -> dict:
    pins = pins or {}
    pq, cq = prev.get("queries", {}), cur.get("queries", {})
    s_prev, s_cur = _sentinel_mean(prev), _sentinel_mean(cur)
    sentinel_ratio = (
        s_cur / s_prev if s_prev and s_cur and s_prev > 0 else None
    )
    verdicts: dict[str, dict] = {}
    for q in sorted(set(pq) | set(cq)):
        a, b = pq.get(q), cq.get(q)
        if a is None or b is None:
            verdicts[q] = {
                "prev": a, "cur": b,
                "verdict": "added" if a is None else "removed",
            }
            continue
        ratio = round(b / a, 2) if a > 0 else None
        row = {"prev": a, "cur": b, "ratio": ratio}
        pin = pins.get(q)
        if ratio is None:
            row["verdict"] = "stable"
        elif ratio <= 1 / T:
            row["verdict"] = "improved"
        elif ratio < T:
            row["verdict"] = "stable"
        elif pin is not None:
            row["pin"] = pin
            anchor = (idle or {}).get(q)
            if a > 0 and pin / a < T:
                row["verdict"] = "pinned-drift"
                row["note"] = (
                    "idle-box pin restores ~prev absolute; the bench "
                    "sample was the box"
                )
            elif anchor and pin / anchor < T:
                # a fresh-JVM pin is not directly comparable to a
                # warm 36-query-window sample for Python/Arrow-worker
                # queries; matching the SAME-protocol historical idle
                # anchor is the like-for-like acquittal (q3 class)
                row["verdict"] = "pinned-drift"
                row["idle_anchor"] = anchor
                row["note"] = (
                    "pin matches the same-protocol idle anchor "
                    f"({anchor}s); prev round's number was a "
                    "different box state, not this code"
                )
            else:
                row["verdict"] = "pinned-regression"
                row["note"] = (
                    "idle-box pin confirms the new number — code look "
                    "required"
                )
        elif (
            sentinel_ratio is not None
            and sentinel_ratio >= max(1.0, ratio / 2)
        ):
            row["verdict"] = "drift-consistent"
            row["note"] = (
                f"window sentinels degraded {sentinel_ratio:.2f}x — "
                "box state explains the delta"
            )
        elif b - a <= SMALL_ABS:
            row["verdict"] = "small-absolute"
            row["note"] = (
                f"+{b - a:.2f}s absolute; below the shared-box jitter "
                "floor, watch next round"
            )
        else:
            row["verdict"] = "needs-pin"
            row["note"] = (
                "no sentinel/pin explanation — re-pin on an idle box "
                "(fresh JVM, warmup + min-of-5, sentinel-bracketed)"
            )
        verdicts[q] = row
    counts: dict[str, int] = {}
    for row in verdicts.values():
        counts[row["verdict"]] = counts.get(row["verdict"], 0) + 1
    return {
        "protocol": {
            "threshold": T,
            "small_abs_sec": SMALL_ABS,
            "sentinel_prev_mean": s_prev,
            "sentinel_cur_mean": s_cur,
            "sentinel_ratio": (
                round(sentinel_ratio, 2) if sentinel_ratio else None
            ),
        },
        "totals": {
            "prev": prev.get("value"),
            "cur": cur.get("value"),
        },
        "summary": counts,
        "action_queue": sorted(
            q for q, r in verdicts.items()
            if r["verdict"] in ("needs-pin", "pinned-regression")
        ),
        "verdicts": verdicts,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int, help="N: triage r{N-1} -> r{N}")
    ap.add_argument("--pins", help="idle-box pin JSON ({queries:{q:sec}})")
    ap.add_argument(
        "--idle",
        default=os.path.join(REPO, "BENCH_SF01_IDLE.json"),
        help="same-protocol historical idle anchor (repin_sf01 output)",
    )
    args = ap.parse_args()
    prev, cur = _load_round(args.round - 1), _load_round(args.round)
    if prev is None or cur is None:
        raise SystemExit(
            f"missing BENCH_r{args.round - 1:02d}.json or "
            f"BENCH_r{args.round:02d}.json"
        )
    pins = None
    if args.pins:
        with open(args.pins) as fh:
            pdoc = json.load(fh)
        pins = pdoc.get("queries", pdoc)
    idle = None
    if args.idle and os.path.exists(args.idle):
        with open(args.idle) as fh:
            idoc = json.load(fh)
        idle = idoc.get("queries", idoc)
    out = triage(prev, cur, pins, idle)
    out["from_round"], out["to_round"] = args.round - 1, args.round
    dst = os.path.join(REPO, f"BENCH_TRIAGE_r{args.round:02d}.json")
    with open(dst, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"wrote": os.path.basename(dst),
                      "summary": out["summary"],
                      "action_queue": out["action_queue"]}))


if __name__ == "__main__":
    main()

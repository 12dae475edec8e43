"""Cross-round bench diff that refuses to mix artifact semantics.

BENCH_r*.json artifacts changed meaning twice: v1 (r01-r06) timed a
count() action and reported the cold pass in `queries`; v2 (r07)
reports the WARM run-2 pass in `queries` (cold preserved as
`queries_cold`); v3 (r08+) replaced count() with a noop-sink full
materialization, which does strictly more work for projection-
terminated queries; v4 (r10+) keeps the noop action but reports the
per-query MIN of two warm passes in `queries` (the stable warm
statistic — single-warm-run diffs whipsawed ±10-20% on sub-second
queries); v5 (r11+) keeps v4 timing semantics but stdout carries only
a COMPACT line (warm-min at 2 decimals) naming a committed
``BENCH_full.json`` with the cold run and raw warm passes — ``load``
merges the full artifact in when the headline values match; v6 keeps
v5 timing semantics (a query's time is its ``observe.run_query``
construct + execute + release wall) and adds those per-pass records
to the full artifact, so v5↔v6 diffs compare the same statistic.
Comparing across versions silently reads as a regression
(or an improvement) that is really a measurement-semantics change —
BASELINE.md's v3 anchor section and the round-8 verdict both require
tooling to branch on `artifact_version`. v3↔v4 warm diffs are allowed
(same action; v4's min-of-warm is a strictly less noisy estimate of
the same quantity) with a one-line notice.

Usage: python tools/bench_compare.py OLD.json NEW.json [--cold]

Prints per-query deltas (warm by default, --cold for run-1) and the
common-set totals; exits 2 with a loud banner when the two artifacts
carry different timed-action semantics (v1/v2 count() vs v3 noop).
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    import os

    raw = json.load(open(path))
    # driver recordings wrap the bench line under "parsed"
    art = raw.get("parsed", raw)
    if art is None:
        raise SystemExit(
            f"{path}: parsed=null (the driver's 2000-char tail "
            "capture missed the bench line — r10's known failure "
            "mode). Use the committed BENCH_full.json from that "
            "round's snapshot instead."
        )
    # v5 compact artifacts carry only the warm-min map (2 decimals)
    # and name a committed full artifact holding the cold run and raw
    # warm passes at 3 decimals — merge it in when present so --cold
    # and full precision keep working.
    full_name = art.get("full_artifact")
    if full_name and "queries_cold" not in art:
        for cand in (
            os.path.join(os.path.dirname(os.path.abspath(path)), full_name),
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                full_name,
            ),
        ):
            if os.path.exists(cand):
                full = json.load(open(cand))
                if full.get("value") == art.get("value"):
                    art = {**full, **{"ann_recall": art.get("ann_recall")
                                      or full.get("ann_recall")}}
                else:
                    print(
                        f"note: {cand} is a DIFFERENT run (value "
                        f"{full.get('value')} != {art.get('value')}) — "
                        "using the compact line only (no cold map)."
                    )
                break
    return art


def version(art: dict) -> int:
    if "artifact_version" in art:
        return int(art["artifact_version"])
    # the explicit marker only exists from r08 on: BENCH_r07 is v2
    # (warm `queries` + `queries_cold`) but predates the field
    return 2 if "queries_cold" in art else 1


def action_family(v: int) -> str:
    """v1/v2 share the count() action; v3+ is the noop sink."""
    return "count" if v < 3 else "noop"


def pick(art: dict, cold: bool) -> dict[str, float]:
    v = version(art)
    if cold:
        # v1: `queries` IS the cold pass; v2+: `queries_cold`
        if v >= 2 and "queries_cold" not in art:
            raise SystemExit(
                "v5 compact artifact without its BENCH_full.json "
                "sibling — the per-query cold map lives only in the "
                "full artifact; point at the committed file."
            )
        return art["queries"] if v == 1 else art["queries_cold"]
    if v == 1:
        raise SystemExit(
            "v1 artifacts have no warm pass — rerun with --cold"
        )
    return art["queries"]


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--cold"]
    cold = "--cold" in sys.argv
    if len(args) != 2:
        print(__doc__)
        return 1
    old, new = load(args[0]), load(args[1])
    vo, vn = version(old), version(new)
    if action_family(vo) != action_family(vn):
        print(
            f"SEMANTICS MISMATCH: {args[0]} is v{vo} "
            f"({action_family(vo)} action) but {args[1]} is v{vn} "
            f"({action_family(vn)} action) — per-query deltas would "
            "compare different amounts of work. Use the BASELINE.md "
            "v3 anchor (BENCH_r08) as the old side instead."
        )
        return 2
    if not cold and vo != vn and 3 in {vo, vn} and max(vo, vn) >= 4:
        print(
            "note: warm statistic differs (v3 = single run-2, "
            "v4/v5 = min of two warm runs) — the newer side reads "
            "slightly faster on noisy sub-second queries by "
            "construction."
        )
    for v, art, name in ((vo, old, args[0]), (vn, new, args[1])):
        if v >= 5 and "queries_cold" not in art and not cold:
            print(f"note: {name} is a v5 COMPACT line (warm-min at 2 "
                  "decimals; full artifact not found) — sub-10ms "
                  "deltas are rounding.")
    qo, qn = pick(old, cold), pick(new, cold)
    common = sorted(set(qo) & set(qn))
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))
    label = "cold" if cold else "warm"
    print(f"{label} per-query deltas over {len(common)} common queries "
          f"(v{vo} vs v{vn}):")
    worst = sorted(common, key=lambda k: qn[k] - qo[k], reverse=True)
    for k in worst:
        d = qn[k] - qo[k]
        r = qn[k] / qo[k] if qo[k] else float("inf")
        flag = "  <-- regressed" if d > 0.5 and r > 1.25 else ""
        print(f"  {k:36s} {qo[k]:7.3f} -> {qn[k]:7.3f}  "
              f"({d:+.3f}s, {r:.2f}x){flag}")
    to, tn = sum(qo[k] for k in common), sum(qn[k] for k in common)
    print(f"common-set total: {to:.3f} -> {tn:.3f} "
          f"({tn / to:.2f}x)" if to else "")
    if only_old:
        print(f"only in old: {only_old}")
    if only_new:
        print(f"only in new: {only_new}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

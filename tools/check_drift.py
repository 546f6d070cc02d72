#!/usr/bin/env python3
"""Round-over-round bench drift gate (and scale-decade gate).

Compares two bench artifacts (the compact JSON line Bench.scala emits,
or the /tmp/bench_full.json per-query form) on their SHARED keys:

    python3 tools/check_drift.py BENCH_LOCAL_r07.json BENCH_LOCAL_r09.json [ratio]
    python3 tools/check_drift.py --decade BENCH_SCALE_r09.json BENCH_SCALE10_r10.json

Round mode fails (exit 1) when any shared key's warm median grew more
than RATIO_MAX (default 1.2) versus the baseline, unless the key is
under the noise floor (NOISE_S, default 0.3 s — sub-300 ms queries
swing 2x from GC/scheduling alone and carry no signal). Improvements
and new keys are reported but never fail the gate.

--decade mode compares a 10x-data artifact against its smaller-SF
baseline: growth up to DECADE_MAX (12x) per decade is expected
(linear work + constant overheads); anything above flags a quadratic
term or a parallelism collapse. The median per-key growth is printed
— that's the scale-curve headline number.

Both modes also fail when the CURRENT artifact carries a non-empty
"failed" list (a query that regressed from working to throwing would
otherwise silently vanish from the shared-key set), refuse a current
artifact with a non-empty "low_sample_keys" list (a minimum over one
warm sample is not bankable), and loudly report baseline keys missing
from the current run.

--allow k1,k2 waives named keys: a documented, deliberate trade
(e.g. a constant-factor cost bought for density-robustness at scale)
is reported loudly as ALLOWED instead of failing the gate. Each entry
may carry a reason after '=' (--allow "k1=scale-fix cost,k2=variance;
worktree-bisected" — entries split on ',', so use ';' inside a
reason); the reason is echoed on the ALLOWED line so the adjudication
travels IN the gate output, not in side prose. --allow repeats.
Waivers are per-invocation and explicit — the gate never learns them
from state, so a waiver can't outlive the round that justified it.
"""
import json
import sys

NOISE_S = 0.3
DECADE_MAX = 12.0


def load(path):
    with open(path) as f:
        d = json.load(f)
    # driver artifacts wrap the parsed line under "parsed"
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def queries_maps(base, cur):
    # use warm medians only when BOTH artifacts carry them — comparing
    # one side's warm medians against the other's cold totals mixes
    # semantics and can mask (or fabricate) a warm regression
    if base.get("queries_min") and cur.get("queries_min"):
        return base["queries_min"], cur["queries_min"]
    # guarded fallback: an artifact that carries NEITHER map (or only
    # queries_min on one side) must die with a gate error, not a raw
    # KeyError traceback — same contract as the no-shared-keys check
    if not (base.get("queries") and cur.get("queries")):
        print("DRIFT GATE ERROR: artifact lacks a comparable queries map "
              "(need 'queries' in both, or 'queries_min' in both)")
        sys.exit(2)
    return base["queries"], cur["queries"]


def parse_allow(spec, allowed):
    # entries split on ','; each is `key` or `key=reason` (use ';'
    # inside a reason — commas end the entry)
    for ent in spec.split(","):
        ent = ent.strip()
        if not ent:
            continue
        key, _, reason = ent.partition("=")
        allowed[key.strip()] = reason.strip()


def main():
    raw = sys.argv[1:]
    decade = "--decade" in raw
    allowed = {}
    args = []
    i = 0
    while i < len(raw):
        if raw[i] == "--decade":
            pass
        elif raw[i] == "--allow" and i + 1 < len(raw):
            parse_allow(raw[i + 1], allowed)
            i += 1
        elif raw[i].startswith("--allow="):
            parse_allow(raw[i].split("=", 1)[1], allowed)
        else:
            args.append(raw[i])
        i += 1
    if len(args) < 2:
        print("usage: " + __doc__.strip().split("\n\n")[2].strip())
        return 2
    ratio_max = float(args[2]) if len(args) > 2 else (DECADE_MAX if decade else 1.2)
    base, cur = load(args[0]), load(args[1])
    bq, cq = queries_maps(base, cur)
    shared = sorted(set(bq) & set(cq))
    if not shared:
        print("DRIFT GATE ERROR: no shared keys between artifacts")
        return 1
    failed = cur.get("failed") or []
    # Banking guard (r16 q_except incident): an artifact whose minima
    # include single-warm-sample keys is not bankable evidence — Bench
    # emits low_sample_keys for exactly this. Both modes compare the same
    # queries_min, so both refuse the gate.
    low = cur.get("low_sample_keys") or []
    if low:
        print(f"{'DECADE' if decade else 'DRIFT'} GATE REFUSED: {len(low)} key(s) "
              f"in the current artifact rest on a single warm sample (re-run "
              f"with more full rounds): {','.join(low[:8])}...")
        return 1
    missing = sorted(set(bq) - set(cq) - set(failed))
    regressions, waived, improved, ratios = [], [], [], []
    for k in shared:
        b, c = bq[k], cq[k]
        if max(b, c) < NOISE_S:
            continue
        ratio = c / b if b > 0 else float("inf")
        ratios.append((k, ratio))
        if ratio > ratio_max and c - b > 0.1:
            (waived if k in allowed else regressions).append((k, b, c, ratio))
        elif not decade and ratio < 1 / ratio_max:
            improved.append((k, b, c, ratio))
    for k, b, c, r in sorted(regressions, key=lambda x: -x[3]):
        label = "SUPER-LINEAR" if decade else "REGRESSED"
        print(f"{label} {k}: {b:.3f}s -> {c:.3f}s ({r:.2f}x)")
    for k, b, c, r in sorted(waived, key=lambda x: -x[3]):
        why = f" [{allowed[k]}]" if allowed.get(k) else ""
        print(f"ALLOWED (documented) {k}: {b:.3f}s -> {c:.3f}s ({r:.2f}x){why}")
    for k, b, c, r in sorted(improved, key=lambda x: x[3]):
        print(f"improved  {k}: {b:.3f}s -> {c:.3f}s ({r:.2f}x)")
    for k in failed:
        print(f"FAILED in current run: {k}")
    for k in missing:
        print(f"MISSING from current run: {k}")
    tot_b = sum(bq[k] for k in shared)
    tot_c = sum(cq[k] for k in shared)
    print(f"shared keys: {len(shared)}  total {tot_b:.1f}s -> {tot_c:.1f}s "
          f"({tot_c / tot_b:.2f}x)  regressions: {len(regressions)}")
    if decade and ratios:
        med = sorted(r for _, r in ratios)[len(ratios) // 2]
        print(f"median per-key growth this decade: {med:.2f}x "
              f"(gate: {ratio_max:.0f}x)")
    if regressions or failed:
        why = []
        if regressions:
            why.append(f"{len(regressions)} key(s) above {ratio_max}x")
        if failed:
            why.append(f"{len(failed)} key(s) failed in the current run")
        print(f"DRIFT GATE FAILED: {'; '.join(why)}")
        return 1
    print("DRIFT GATE OK" + (f" ({len(missing)} baseline key(s) missing)" if missing else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())

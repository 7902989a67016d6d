#!/usr/bin/env python3
"""Three-point power-law fit over graft.tools.Scale records (VERDICT
r13 #2): every 100x ratio so far is a single two-point comparison,
which cannot separate fixed-latency-plus-linear from mildly
super-linear. With walls at 1x, 10x and 30x we fit

    t(n) = a + b * n^p      (n = scale factor, a = fixed latency)

by solving for p from the latency-free ratio
    (t30 - t1) / (t10 - t1) = (30^p - 1) / (10^p - 1)
via bisection (monotone in p), then a and b follow. p <= ~1.1 means
linear-with-latency; p materially above 1 flags a rewrite.

Each record holds per-op [cold, steady] seconds for its base and
scaled pass; the fit uses the steady (recurring) runs.

Usage: python3 tools/scale_fit.py scale_10x.json scale_30x.json \
           [fit.json, default target/scale_fit.json]
"""
import json
import os
import sys


def solve_p(r, f1, f2):
    """Solve (f2^p - 1)/(f1^p - 1) = r for p in (0.05, 3)."""
    def g(p):
        return (f2 ** p - 1.0) / (f1 ** p - 1.0) - r
    lo, hi = 0.05, 3.0
    if g(lo) * g(hi) > 0:
        return None  # ratio outside the representable band
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if g(lo) * g(mid) <= 0:
            hi = mid
        else:
            lo = mid
    return (lo + hi) / 2.0


def main():
    f10, f30 = sys.argv[1], sys.argv[2]
    out = sys.argv[3] if len(sys.argv) > 3 else "target/scale_fit.json"
    d10 = json.load(open(f10))
    d30 = json.load(open(f30))
    assert d10["factor"] == 10 and d30["factor"] == 30
    ops10, ops30 = d10["ops"], d30["ops"]
    rows = {}
    for name in sorted(n for n in set(ops10) & set(ops30)
                       if all("base" in o and "scaled" in o
                              for o in (ops10[n], ops30[n]))):
        # steady runs; the base is measured in both records, take the min
        t1 = min(ops10[name]["base"][1], ops30[name]["base"][1])
        t10 = ops10[name]["scaled"][1]
        t30 = ops30[name]["scaled"][1]
        row = {"t_1x": t1, "t_10x": t10, "t_30x": t30,
               "ratio_10x": round(t10 / t1, 2), "ratio_30x": round(t30 / t1, 2)}
        if t30 > t10 > t1:
            r = (t30 - t1) / (t10 - t1)
            p = solve_p(r, 10.0, 30.0)
            if p is not None:
                b = (t10 - t1) / (10.0 ** p - 1.0)
                row["p"] = round(p, 3)
                row["a_fixed_sec"] = round(t1 - b, 3)
                row["b_per_unit"] = round(b, 4)
                row["verdict"] = ("linear" if p <= 1.1 else
                                  "mildly-super-linear" if p <= 1.3 else
                                  "SUPER-LINEAR")
            else:
                row["verdict"] = "ratio-outside-band"
        else:
            # non-monotone walls: latency dominates, nothing to fit
            row["p"] = None
            row["verdict"] = "latency-dominated (non-monotone walls)"
        rows[name] = row
    res = {"model": "t = a + b*n^p (n = scale factor)",
           "sources": [f10, f30], "ops": rows}
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    json.dump(res, open(out, "w"), indent=1)
    for n, r in rows.items():
        print(f"{n:28s} p={r.get('p')} {r['verdict']} "
              f"(1x={r['t_1x']:.2f}s 10x={r['t_10x']:.2f}s 30x={r['t_30x']:.2f}s)")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

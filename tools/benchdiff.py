#!/usr/bin/env python3
"""Round-over-round bench regression report.

Usage: python3 tools/benchdiff.py <old_bench.json> <new_bench.json> [ratio]

Compares per-query seconds between two bench files (driver BENCH_r*.json
with a "parsed" wrapper, or target/bench.json written by graft.Bench)
and prints every common query whose new/old ratio exceeds the threshold
(default 1.3), plus totals over the common set. This is the discipline
the verdicts apply by hand each round — run it locally BEFORE the driver
does: a regression caught here is a fix; one caught by the judge is a
finding.

Exit 1 when any regression exceeds the threshold (so a verify chain can
gate on it); the report itself distinguishes one-gate environmental
stalls (a single huge outlier, normal solo — see BENCH.md round 10)
from broad drift (many queries over threshold).
"""
import sys, json


STEAL_DIRTY = 0.5  # % steal over a gate's window that marks it environmental


def load(path):
    d = json.load(open(path))
    if "parsed" in d and d["parsed"]:
        d = d["parsed"]
    tel = d.get("telemetry")
    if tel:
        for phase in ("start", "end"):
            s = tel.get(phase) or {}
            print(f"{path} {phase}: loadavg={s.get('loadavg')} "
                  f"io_some_avg10={s.get('io_some_avg10')} "
                  f"io_full_avg10={s.get('io_full_avg10')}")
        st, en = tel.get("start") or {}, tel.get("end") or {}
        try:
            dsteal = en["cpu_steal_ticks"] - st["cpu_steal_ticks"]
            dtotal = en["cpu_total_ticks"] - st["cpu_total_ticks"]
            if dtotal:
                print(f"{path} host steal over run: "
                      f"{100.0 * dsteal / dtotal:.2f}% "
                      f"({dsteal} of {dtotal} ticks)")
        except (KeyError, TypeError):
            pass
    return d.get("queries", {}), d.get("gate_env", {})


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    (old, old_env), (new, new_env) = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3

    def dirty(env, q):
        """True when q's own bench window saw host-side contention."""
        g = env.get(q) or {}
        s = g.get("steal_pct")
        return s is not None and s > STEAL_DIRTY

    def annot(q):
        """Environment annotation for a riser: a dirty window on EITHER
        side explains the delta away (new-side steal inflates new; a
        dirty old window means the baseline itself was contaminated)."""
        tags = []
        if dirty(new_env, q):
            tags.append(f"new window steal {new_env[q]['steal_pct']}%")
        if dirty(old_env, q):
            tags.append(f"old window steal {old_env[q]['steal_pct']}%")
        return f"  [ENVIRONMENT: {'; '.join(tags)}]" if tags else ""
    common = sorted(set(old) & set(new))
    if not common:
        print("no common queries between the two files")
        sys.exit(2)
    o_tot = sum(old[q] for q in common)
    n_tot = sum(new[q] for q in common)
    regressions = [(new[q] / old[q], q) for q in common
                   if old[q] > 0 and new[q] / old[q] > ratio
                   and new[q] - old[q] > 0.2]  # ignore sub-200ms jitter
    regressions.sort(reverse=True)
    tot_ratio = f"{n_tot / o_tot:.2f}x" if o_tot > 0 else "n/a"
    print(f"common queries: {len(common)}  "
          f"old total {o_tot:.1f}s  new total {n_tot:.1f}s  "
          f"ratio {tot_ratio}")
    only_new = sorted(set(new) - set(old), key=lambda q: -new[q])
    if only_new:
        shown = ", ".join(f"{q}={new[q]}" for q in only_new[:8])
        more = f" … +{len(only_new) - 8} more" if len(only_new) > 8 else ""
        print(f"new-only queries ({len(only_new)}, slowest first): "
              f"{shown}{more}")
    if not regressions:
        print(f"no regressions > {ratio}x")
        sys.exit(0)
    print(f"\nregressions > {ratio}x (new/old):")
    real = 0
    for r, q in regressions:
        a = annot(q)
        real += 0 if a else 1
        print(f"  {q}: {old[q]} -> {new[q]}  ({r:.2f}x){a}")
    if real == 0 and any(annot(q) for _, q in regressions):
        print("every riser's window was contaminated (per-gate steal > "
              f"{STEAL_DIRTY}%) — adjudicate with a quiet solo `Tool probe`, "
              "not a judge session")
    sys.exit(1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one.

    python3 perfbench/compare.py A_DIR [B_DIR]

A set is a directory holding run records, as run.py leaves them under
.bench_run/records/ (searched recursively; one JSON file per run). Untraced
runs give the end-to-end metrics, traced runs the per-layer ones.

For each workload and end-to-end metric it prints each set's median and
quartiles, the spread (quartile distance over median) against the metric's
bound from BENCHMARK.json, and with two sets a verdict:

  regressed   B's median is worse than A's by more than the bound
  unresolved  A's own spread is wider than the bound and B does not beat
              every run of A
  improved    B wins at least 9 in 10 of all (A, B) run pairs and the medians
              differ by more than A's quartile distance
  unchanged   otherwise

For every end-to-end metric that moved (regressed or improved) it lists the
per-layer metrics of the same workload that moved with it, largest change
first: which layer moved. With traced and untraced runs in one set it also
reports the tracing overhead: the traced median against the untraced one.

It also prints the CPU share the hypervisor stole during each set's runs.
When the two sets' median steal differs by more than STEAL_GAP, it gives no
verdict for that workload ("host differs") and exits with 3: such a
difference says as much about the host as about the code.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

# the largest gap between two sets' median steal shares that still allows a verdict
STEAL_GAP = 0.02


def load_set(d):
    """{workload: {"e2e": [metrics...], "layer": [metrics...], "steal": [shares...]}}"""
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "**", "*.json"), recursive=True)):
        try:
            r = json.load(open(f))
        except (OSError, ValueError):
            continue
        if not isinstance(r, dict) or "workload" not in r or "metrics" not in r:
            continue
        w = runs.setdefault(r["workload"], {"e2e": [], "layer": [], "steal": []})
        w["layer" if r.get("trace") else "e2e"].append(r["metrics"])
        if r.get("steal_during_run") is not None:
            w["steal"].append(r["steal_during_run"])
    return runs


def value(m, k):
    """A metric from a record ({name: number}) or a result line ({name: {value, unit}})."""
    v = m[k]
    return v["value"] if isinstance(v, dict) else v


def summary(vals):
    q1, med, q3 = stats.quartiles(vals)
    return {"n": len(vals), "q1": q1, "median": med, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else 0.0}


def worse_by(a, b, better):
    """Relative change from a to b, positive when b is worse."""
    if a == 0:
        return 0.0
    d = (b - a) / abs(a)
    return d if better == "lower" else -d


def verdict(av, bv, better, bound):
    a, b = summary(av), summary(bv)
    delta = worse_by(a["median"], b["median"], better)

    def beats(x, y):
        return x < y if better == "lower" else x > y
    pairs = [(x, y) for x in av for y in bv]
    wins = sum(beats(y, x) for x, y in pairs)
    if delta > bound:
        return "regressed", delta
    if a["spread"] > bound and not all(beats(y, x) for x, y in pairs):
        return "unresolved", delta
    if wins >= 0.9 * len(pairs) and abs(b["median"] - a["median"]) > a["q3"] - a["q1"]:
        return "improved", delta
    return "unchanged", delta


def moved_layers(al, bl, threshold=0.05):
    """Per-layer metrics whose median moved by more than `threshold` of A's
    median and by more than A's quartile distance."""
    out = []
    for k in sorted(set(al[0]) & set(bl[0])) if al and bl else []:
        a = summary([value(m, k) for m in al])
        b = summary([value(m, k) for m in bl])
        if a["median"] == 0:
            continue
        rel = (b["median"] - a["median"]) / abs(a["median"])
        if abs(rel) > threshold and abs(b["median"] - a["median"]) > a["q3"] - a["q1"]:
            out.append((k, a["median"], b["median"], rel))
    return sorted(out, key=lambda t: -abs(t[3]))


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    sets = [load_set(d) for d in argv[1:]]
    a = sets[0]
    b = sets[1] if len(sets) > 1 else None
    bad = host_differs = False
    for w in sorted(set(a) | set(b or {})):
        print(f"== {w}")
        steal = {}
        for label, s in (("A", a), ("B", b)):
            if s and s.get(w, {}).get("steal"):
                st = s[w]["steal"]
                steal[label] = stats.median(st)
                print(f"  hypervisor steal during {label}'s runs: median {steal[label]:.1%}, "
                      f"max {max(st):.1%}")
        no_verdict = len(steal) == 2 and abs(steal["A"] - steal["B"]) > STEAL_GAP
        if no_verdict:
            host_differs = True
            print(f"  host differs: median steal {steal['A']:.1%} vs {steal['B']:.1%}, "
                  f"more than {STEAL_GAP:.0%} apart; no verdict")
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            av = [value(r, k) for r in a.get(w, {}).get("e2e", []) if k in r]
            bv = [value(r, k) for r in (b or {}).get(w, {}).get("e2e", []) if k in r]
            if not av:
                continue
            sa = summary(av)
            line = (f"  {k:16s} A n={sa['n']} median={sa['median']:.4g} "
                    f"q1={sa['q1']:.4g} q3={sa['q3']:.4g} spread={sa['spread']:.3f} "
                    f"(bound {bound})")
            if b is None:
                if sa["spread"] > bound:
                    line += " WIDER THAN BOUND"
                    bad = True
                print(line)
                continue
            if not bv:
                print(line + "  B: no runs")
                continue
            sb = summary(bv)
            v, delta = verdict(av, bv, m["better"], bound)
            if no_verdict:
                v = "host differs"
            bad |= v == "regressed"
            print(line + f"\n  {'':16s} B n={sb['n']} median={sb['median']:.4g} "
                  f"q1={sb['q1']:.4g} q3={sb['q3']:.4g}  worse by {delta:+.3f}: {v}")
            if v in ("regressed", "improved"):
                layers = moved_layers(a.get(w, {}).get("layer", []),
                                      b.get(w, {}).get("layer", []))
                for name, x, y, rel in layers:
                    print(f"      moved with it: {name} {x:.4g} -> {y:.4g} ({rel:+.1%})")
                if not layers:
                    print("      moved with it: no per-layer metric (or no traced runs)")
        for label, s in (("A", a), ("B", b)):
            if not s or w not in s:
                continue
            e2e, layer = s[w]["e2e"], s[w]["layer"]
            if e2e and layer:
                for k in ("throughput_rps", "latency_p50_ms"):
                    untraced = stats.median([value(r, k) for r in e2e])
                    traced = stats.median([value(r, "trace." + k) for r in layer])
                    print(f"  tracing overhead ({label}): {k} {untraced:.4g} untraced, "
                          f"{traced:.4g} traced ({(traced - untraced) / untraced:+.1%})")
    return 1 if bad else 3 if host_differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

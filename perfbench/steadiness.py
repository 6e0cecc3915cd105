#!/usr/bin/env python3
"""Repeat the benchmark over seeds and judge its steadiness.

    # ten seeds per workload, end-to-end metrics; writes a JSON of all values
    python3 perfbench/steadiness.py run --seeds 1-10 --out set1.json
    # the same for the traced run (per-layer metrics)
    python3 perfbench/steadiness.py run --seeds 1-10 --trace --out traced.json
    # second set against the first: each median within its bound?
    python3 perfbench/steadiness.py compare set1.json set2.json
    # tracing overhead: traced.<metric> against the untraced metric
    python3 perfbench/steadiness.py overhead set1.json traced.json
    # per-workload baseline files: per-layer medians plus tracing overhead
    python3 perfbench/steadiness.py baseline set1.json traced.json perfbench/baseline

Spread is the distance between the first and third quartile of the
values (`statistics.quantiles(values, n=4)`) as a share of their median;
the benchmark is steady when each end-to-end spread, `setup_s` aside,
stays below a third of the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def declaration():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def run(args):
    decl = declaration()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in decl["workloads"]]
    values = {}
    for w in workloads:
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(decl["run_seconds"]),
                                "--trace", "1" if args.trace else "0"],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s}: exit code {p.returncode}")
            res = json.loads(lines[-1])
            info = json.loads(lines[-2]) if len(lines) > 1 else {}
            wall = time.time() - t0
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']} "
                  f"wall={wall:.1f}s", file=sys.stderr, flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(w, {}).setdefault(name, []).append(m["value"])
            values[w].setdefault("_correct", []).append(res["correct"])
            # the raw run: seed, wall time, run conditions and detail
            values[w].setdefault("_runs", []).append(
                {"seed": s, "wall_s": round(wall, 1), "conditions": info.get("conditions"),
                 "detail": info.get("detail")})
            with open(args.out, "w") as f:
                json.dump(values, f, indent=1)
    report(values, decl)


def report(values, decl):
    bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
    for w, ms in values.items():
        print(w)
        for name, xs in ms.items():
            if name.startswith("_") or name not in bounds or len(xs) < 2:
                continue
            sp = spread(xs)
            verdict = "ok" if sp < bounds[name] / 3 or name == "setup_s" else "WIDE"
            print(f"  {name:16s} median={statistics.median(xs):<12.6g} spread={sp:.3f} "
                  f"bound={bounds[name]} {verdict}")


def compare(args):
    decl = declaration()
    a, b = (json.load(open(p)) for p in (args.first, args.second))
    for m in decl["end_to_end"]:
        for w in a:
            if m["name"] not in a[w] or m["name"] not in b.get(w, {}):
                continue
            m1, m2 = statistics.median(a[w][m["name"]]), statistics.median(b[w][m["name"]])
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            print(f"{w:15s} {m['name']:16s} {m1:<12.6g} {m2:<12.6g} worse_by={worse:+.3f} "
                  f"bound={m['bound']} {'ok' if worse <= m['bound'] else 'REGRESSED'}")


def overheads(plain, traced, decl):
    out = {}
    for w in plain:
        for m in decl["end_to_end"]:
            n = m["name"]
            if n in plain[w] and f"traced.{n}" in traced.get(w, {}):
                u, t = statistics.median(plain[w][n]), statistics.median(traced[w][f"traced.{n}"])
                out.setdefault(w, {})[n] = {"untraced": u, "traced": t, "overhead": (t - u) / u}
    return out


def overhead(args):
    decl = declaration()
    plain, traced = (json.load(open(p)) for p in (args.untraced, args.traced))
    for w, ms in overheads(plain, traced, decl).items():
        for n, o in ms.items():
            print(f"{w:15s} {n:16s} untraced={o['untraced']:<12.6g} traced={o['traced']:<12.6g} "
                  f"overhead={o['overhead']:+.3f}")


def baseline(args):
    decl = declaration()
    plain, traced = (json.load(open(p)) for p in (args.untraced, args.traced))
    units = {m["name"]: m["unit"] for m in decl["per_layer"]}
    over = overheads(plain, traced, decl)
    os.makedirs(args.dir, exist_ok=True)
    for w, ms in traced.items():
        layers = {n: {"median": statistics.median(xs), "unit": units[n]}
                  for n, xs in ms.items() if n in units and not n.startswith("traced.")}
        out = {"workload": w, "traced_runs": len(ms["_correct"]),
               "untraced_runs": len(plain.get(w, {}).get("_correct", [])),
               "all_correct": all(ms["_correct"]) and all(plain.get(w, {}).get("_correct", [True])),
               "tracing_overhead": over.get(w, {}), "per_layer_median": layers}
        with open(os.path.join(args.dir, f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", help="comma-separated; default: all")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    b = sub.add_parser("baseline")
    b.add_argument("untraced")
    b.add_argument("traced")
    b.add_argument("dir")
    args = ap.parse_args()
    {"run": run, "compare": compare, "overhead": overhead, "baseline": baseline}[args.cmd](args)


if __name__ == "__main__":
    main()

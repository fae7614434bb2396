#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report how steady each metric is.

    python3 perfbench/steadiness.py [--seeds 1-10] [--workloads a,b] [--traced]
                                    [--out perfbench/STEADINESS.md]

For every workload in BENCHMARK.json, runs run.py once per seed and tabulates
each end-to-end metric, and the wall-time figures of the telemetry line:
median, quartiles (statistics.quantiles, n=4), min, max, and the quartile
spread as a share of the median next to the metric's bound. With --traced it also makes one traced run per workload (first seed)
and tabulates its per-layer metrics, the traced/untraced throughput ratio
(the tracing overhead) and the layer shares of task time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {p.returncode}")
    tel = next((json.loads(l.split(" ", 2)[2]) for l in lines
                if l.startswith("perfbench telemetry ")), {})
    return json.loads(lines[-1]), tel, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=list(range(1, 11)))
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    e2e = bench["end_to_end"]
    # wall-time figures the harness reports as telemetry, not gated
    waited = [{"name": "items_per_s", "unit": "1/s"}, {"name": "op_p50_ms", "unit": "ms"},
            {"name": "op_p90_ms", "unit": "ms"}]
    seconds = bench["run_seconds"]

    out = [f"# Steadiness of the benchmark\n",
           f"`python3 perfbench/steadiness.py --seeds {a.seeds[0]}-{a.seeds[-1]}"
           f"{' --traced' if a.traced else ''}`: one run per seed per workload, "
           f"{seconds} s each. Spread = (q3 - q1) / median; the bound is BENCHMARK.json's.\n"]
    raw = {}
    worst = []
    failures = []
    for w in workloads:
        vals = {m["name"]: [] for m in e2e + waited}
        notes = []
        for s in a.seeds:
            res, tel, wall = run(w, s, seconds, 0)
            if not res["correct"] or res["failed"]:
                failures.append(f"{w} seed {s}: {res['failed']}/{res['attempted']} ops failed: "
                                f"{tel.get('errors')}")
            for m in e2e:
                vals[m["name"]].append(res["metrics"][m["name"]]["value"])
            for m in waited:
                vals[m["name"]].append(tel[m["name"]])
            notes.append((s, res["attempted"], round(wall, 1), tel.get("host.steal_pct"),
                          tel.get("jvm.gc_ms"), tel.get("jvm.jit_ms_timed"), tel.get("host.loadavg")))
            print(f"{w} seed {s}: {res['attempted']} ops, {wall:.0f} s", file=sys.stderr)
        raw[w] = vals
        out.append(f"\n## {w}\n")
        out.append("| metric | unit | median | q1 | q3 | min | max | spread | bound |")
        out.append("|---|---|---|---|---|---|---|---|---|")
        for m in e2e + waited:
            v = vals[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med if med else float("inf")
            if "bound" in m:
                worst.append((spread / m["bound"], w, m["name"], spread, m["bound"]))
            out.append(f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                       f"{min(v):.4g} | {max(v):.4g} | {spread:.3f} | {m.get('bound', 'not gated')} |")
        out.append("\nPer run (seed, ops, wall s, steal %, GC ms, JIT ms in window, load):"
                   " " + "; ".join(str(n) for n in notes))
    out.append("\n## Failed ops\n")
    out.append("\n".join(f"- {f}" for f in failures) if failures else "None.")
    out.append("\n## Worst spreads against their bounds\n")
    for r, w, m, spread, bound in sorted(worst, reverse=True)[:6]:
        out.append(f"- {w} {m}: spread {spread:.3f}, bound {bound} ({r:.2f} of the bound)")

    if a.traced:
        out.append("\n## Traced runs (seed %d)\n" % a.seeds[0])
        layer = {}
        for w in workloads:
            res, tel, _ = run(w, a.seeds[0], seconds, 1)
            layer[w] = {k: v["value"] for k, v in res["metrics"].items()}
        names = [m["name"] for m in bench["per_layer"]]
        out.append("| metric | " + " | ".join(workloads) + " |")
        out.append("|---|" + "---|" * len(workloads))
        for n in names:
            out.append(f"| {n} | " + " | ".join(f"{layer[w].get(n, 0):.4g}" for w in workloads) + " |")
        out.append("\nLayer shares of task time (codec, kernel and write time are task time;"
                   " `spark.task_run_ms` is the whole) and trace overhead:\n")
        for w in workloads:
            L = layer[w]
            task = L["spark.task_run_ms"] or 1.0
            untraced = statistics.median(raw[w]["items_per_s"])
            out.append(f"- {w}: decode {L['codec.decode_ms'] / task:.0%}, encode "
                       f"{L['codec.encode_ms'] / task:.0%}, store write {L['store.write_ms'] / task:.0%}, "
                       f"kernels {L['kernel.ms'] / task:.0%} of {task:.0f} ms task time per op; "
                       f"named spans cover {L['trace.span_coverage_pct']:.1f}% of op wall time; "
                       f"traced {L['trace.items_per_s']:.4g} items/s vs untraced median "
                       f"{untraced:.4g} ({L['trace.items_per_s'] / untraced:.2f}x)")
    with open(a.out, "w") as f:
        f.write("\n".join(out) + "\n")
    with open(os.path.splitext(a.out)[0] + ".json", "w") as f:
        json.dump({"seeds": a.seeds, "values": raw}, f, indent=1)
    print("\n".join(out))


if __name__ == "__main__":
    main()

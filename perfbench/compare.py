"""Collect sets of benchmark runs and compare two sets.

    python3 perfbench/compare.py collect SET_DIR --seeds 1-10 [--trace 1]
    python3 perfbench/compare.py diff SET_A SET_B

``collect`` runs every workload of BENCHMARK.json once per seed, from the
current directory (the root of a checkout), and keeps each run's standard
output as ``SET_DIR/<workload>-seed<n>-trace<t>.log``.

``diff`` prints, per workload and metric, each set's median and quartiles
and whether the sets agree, as two sets of the same code should: each
end-to-end metric's spread (inter-quartile distance over the median) within
its bound in both sets, and the medians apart by no more than the bound, in
either direction. Counts that must not vary between runs of the same code
are flagged when they do. Exits 1
if anything disagrees. When set B holds traced runs and set A untraced runs
of a workload, it also prints the tracing overhead: how much worse each
end-to-end metric's median is under tracing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartiles, spread, worse_by  # noqa: E402

# Per-layer counts that depend only on the plan and the table layout, not
# on timing or seed: any change is a change in what the engine does.
DETERMINISTIC = (
    "lake.merge.jobs_per_call",
    "lake.merge.stages_per_call",
    "lake.merge.tasks_per_call",
    "lake.merge.files_written_per_call",
    "lake.table.read.dirty_buckets",
    "sources.scan_tasks_per_batch",
)


def load_bench() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def collect(args) -> int:
    bench = load_bench()
    os.makedirs(args.set_dir, exist_ok=True)
    status = 0
    for seed in parse_seeds(args.seeds):
        for w in (w["name"] for w in bench["workloads"]):
            out = os.path.join(args.set_dir, f"{w}-seed{seed}-trace{args.trace}.log")
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            with open(out, "w") as f:
                rc = subprocess.run(cmd, stdout=f, stderr=subprocess.DEVNULL).returncode
            print(f"{os.path.basename(out)}: exit {rc}", flush=True)
            status = status or rc
    return status


def read_set(set_dir: str) -> dict:
    """{(workload, trace): [result, ...]} from the run logs in ``set_dir``."""
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*.log"))):
        with open(path) as f:
            lines = f.read().strip().splitlines()
        if not lines or not lines[0].startswith("perfbench "):
            continue
        head = dict(kv.split("=", 1) for kv in lines[0].split()[1:])
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None  # the run printed no result
        else:
            # every run also prints its end-to-end metrics as
            # "metric <name> <value> <unit>" lines, traced runs included
            result["e2e"] = {
                p[1]: float(p[2]) for p in (ln.split() for ln in lines)
                if len(p) == 4 and p[0] == "metric"
            }
        runs.setdefault((head["workload"], int(head["trace"])), []).append(result)
    return runs


def fmt(values) -> str:
    q1, med, q3 = quartiles(values)
    return f"{med:.6g} [{q1:.6g}, {q3:.6g}]"


def diff(args) -> int:
    bench = load_bench()
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    a, b = read_set(args.set_a), read_set(args.set_b)
    bad = 0
    for key in sorted(set(a) | set(b)):
        workload, trace = key
        ra, rb = a.get(key, []), b.get(key, [])
        if not ra or not rb:
            print(f"== {workload} (trace {trace}): only in set {'A' if ra else 'B'}")
            continue
        print(f"== {workload} (trace {trace}): {len(ra)} vs {len(rb)} runs")
        for name, rs in (("A", ra), ("B", rb)):
            failed = [r for r in rs if r is None or not r["correct"] or r["failed"]]
            if failed:
                print(f"   set {name}: {len(failed)} failed or incorrect runs")
                bad += 1
        ra = [r for r in ra if r is not None]
        rb = [r for r in rb if r is not None]
        names = sorted({n for r in ra + rb for n in r["metrics"]})
        for n in names:
            va = [r["metrics"][n]["value"] for r in ra if n in r["metrics"]]
            vb = [r["metrics"][n]["value"] for r in rb if n in r["metrics"]]
            if not va or not vb:
                print(f"   {n}: missing from one set")
                bad += 1
                continue
            line = f"   {n}: A {fmt(va)}  B {fmt(vb)}"
            if n in e2e:
                m = e2e[n]
                sa, sb = spread(va), spread(vb)
                shift = worse_by(quartiles(va)[1], quartiles(vb)[1], m["better"])
                ok = max(abs(shift), sa, sb) <= m["bound"]
                line += (f"  spread {sa:.3f}/{sb:.3f}  B worse by {shift:+.3f}"
                         f"  bound {m['bound']}  {'agree' if ok else 'DISAGREE'}")
                bad += not ok
            elif n in DETERMINISTIC:
                same = len(set(va) | set(vb)) == 1
                line += "  deterministic" if same else "  CHANGED"
                bad += not same
            print(line)
    for workload in sorted({w for w, _ in a} & {w for w, _ in b}):
        untraced = [r for r in a.get((workload, 0), []) if r]
        traced = [r for r in b.get((workload, 1), []) if r]
        if untraced and traced:
            print(f"== {workload}: tracing overhead (set B traced vs set A untraced)")
            for n, m in e2e.items():
                va = [r["e2e"][n] for r in untraced if n in r["e2e"]]
                vb = [r["e2e"][n] for r in traced if n in r["e2e"]]
                if va and vb:
                    shift = worse_by(quartiles(va)[1], quartiles(vb)[1], m["better"])
                    print(f"   {n}: {shift:+.3f}")
    print("sets agree" if not bad else f"{bad} disagreement(s)")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run every workload once per seed")
    c.add_argument("set_dir")
    c.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    c.add_argument("--trace", type=int, choices=[0, 1], default=0)
    d = sub.add_parser("diff", help="compare two sets of runs")
    d.add_argument("set_a")
    d.add_argument("set_b")
    args = ap.parse_args(argv)
    return collect(args) if args.cmd == "collect" else diff(args)


if __name__ == "__main__":
    sys.exit(main())

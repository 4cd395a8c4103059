"""Run the benchmark on several seeds and record how much each metric spreads.

    python3 cdcbench/steadiness.py --workload cdc_incremental --runs 10 \\
        --first-seed 101 --out cdcbench/steadiness/set1-cdc_incremental.json
    python3 cdcbench/steadiness.py --report cdcbench/steadiness/*.json

For every metric the record holds the ten values, their median, the
quartiles from ``statistics.quantiles(values, n=4)`` and the spread:
the distance between the quartiles as a share of the median. A metric's
bound in BENCHMARK.json must exceed its spread; the aim is three times.
``--report`` prints a Markdown table of the records given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median if median else None, "values": values}


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_seeds(workload: str, seeds: list[int], seconds: int, trace: int) -> dict:
    runs = []
    for seed in seeds:
        cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)]
        before, t0 = cpu_ticks(), time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
        wall_s = time.monotonic() - t0
        ticks = [b - a for a, b in zip(before, cpu_ticks())]
        if proc.returncode != 0:
            raise SystemExit(f"seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        detail = next(json.loads(line.split(": ", 1)[1]) for line in proc.stderr.splitlines()
                      if line.startswith("cdcbench detail: "))
        # hypervisor steal: the share of CPU time the host gave elsewhere
        runs.append({"seed": seed, "result": result, "detail": detail, "wall_s": wall_s,
                     "steal_pct": 100.0 * ticks[7] / sum(ticks)})
        print(f"{workload} seed {seed}: correct={result['correct']}", file=sys.stderr)
    names = runs[0]["result"]["metrics"]
    return {
        "workload": workload, "trace": trace, "seconds": seconds,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "metrics": {n: {"unit": runs[0]["result"]["metrics"][n]["unit"],
                        **summarise([r["result"]["metrics"][n]["value"] for r in runs])}
                    for n in names},
        "runs": runs,
    }


def report(paths: list[str]) -> str:
    bounds = {m["name"]: m["bound"] for m in
              json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}
    lines = ["| record | metric | median | q1 | q3 | spread | bound |",
             "| --- | --- | --- | --- | --- | --- | --- |"]
    for path in paths:
        rec = json.loads(Path(path).read_text())
        for name, m in rec["metrics"].items():
            spread = "" if m["spread"] is None else f"{m['spread']:.3f}"  # a median of 0
            lines.append(f"| {Path(path).stem} | {name} ({m['unit']}) | {m['median']:.4g} | "
                         f"{m['q1']:.4g} | {m['q3']:.4g} | {spread} | "
                         f"{bounds.get(name, '')} |")
    lines.append("")
    lines.append("| record | steal % per run (min / median / max) | r(steal, pass_s) |")
    lines.append("| --- | --- | --- |")
    for path in paths:
        rec = json.loads(Path(path).read_text())
        steal = [r["steal_pct"] for r in rec["runs"]]
        key = "pass_s" if "pass_s" in rec["metrics"] else "trace.pass_s"
        r = statistics.correlation(steal, rec["metrics"][key]["values"])
        lines.append(f"| {Path(path).stem} | {min(steal):.2f} / {statistics.median(steal):.2f}"
                     f" / {max(steal):.2f} | {r:.2f} |")
    # a later set's median against the first's, per metric
    recs = [json.loads(Path(p).read_text()) for p in paths]
    pairs = [(a, b) for i, a in enumerate(recs) for b in recs[i + 1:]
             if a["workload"] == b["workload"] and a["trace"] == b["trace"]]
    if pairs:
        lines += ["", "| workload | metric | median change, later set vs first | bound |",
                  "| --- | --- | --- | --- |"]
    for a, b in pairs:
        for name, m in a["metrics"].items():
            if not m["median"]:
                continue
            change = b["metrics"][name]["median"] / m["median"] - 1
            lines.append(f"| {a['workload']} | {name} | {change:+.3f} | {bounds.get(name, '')} |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--report", nargs="+")
    args = ap.parse_args()
    if args.report:
        print(report(args.report))
        return 0
    seconds = args.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    record = run_seeds(args.workload, seeds, seconds, args.trace)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Repeat the benchmark over seeds and report each end-to-end metric's spread.

    python3 perfbench/steadiness.py --workloads stream_decode lake_scan ingest_upsert \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/steadiness.json

For every workload and metric it records the ten values, their median and
the inter-quartile range as a share of the median (Python's
`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json. `cpu_ms_per_op` sits beside the wall-time metrics, so a
contention window shows as wall time moving while CPU time stays flat.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    report = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            proc = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                      "--seconds", seconds, "--trace", "0"],
                                  cwd=ROOT, capture_output=True, text=True)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            result = json.loads(last) if last.startswith("{") else {}
            ok = proc.returncode == 0 and result.get("correct") is True
            print(f"{w} seed {seed}: exit {proc.returncode} correct {result.get('correct')}", file=sys.stderr)
            if not ok:
                sys.stderr.write(proc.stderr[-2000:])
                return 1
            runs.append({k: v["value"] for k, v in result["metrics"].items()})
        metrics = {}
        for name in runs[0]:
            values = [r[name] for r in runs]
            metrics[name] = {"values": values, "median": statistics.median(values),
                             "iqr_share": spread(values), "bound": bounds.get(name)}
            print(f"  {w:14s} {name:22s} median {metrics[name]['median']:12.4f} "
                  f"spread {metrics[name]['iqr_share']:.4f} bound {bounds.get(name)}", file=sys.stderr)
        report[w] = {"seeds": args.seeds, "metrics": metrics}
    if args.out:
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

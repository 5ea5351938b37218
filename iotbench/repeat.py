"""Repeat runner: N runs of a workload, one seed each, then the median
and quartiles of every metric, and the tracing overhead.

    python3 iotbench/repeat.py --workload wearable_live --runs 10 \
        --seconds 16 [--first-seed 1] [--traced-runs 3]

Each run is a fresh process of ``run.py``. Untraced runs give the
end-to-end metrics; traced runs give the per-layer metrics, and their
end-to-end figures (from the report line) minus the untraced ones give
the tracing overhead. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import quartiles  # noqa: E402


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(report, result) of one run; raises when the run failed."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed} rc={p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


def summarize(runs: list[dict]) -> dict:
    """name -> {q1, median, q3, spread, unit, values} over runs' metric
    dicts; spread is (q3 - q1) / median."""
    out = {}
    for name in runs[0]:
        vals = [r[name]["value"] for r in runs]
        q1, med, q3 = quartiles(vals)
        out[name] = {
            "q1": q1, "median": med, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "unit": runs[0][name]["unit"],
            "values": vals,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced-runs", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    seeds = range(args.first_seed, args.first_seed + args.runs)
    plain = [one_run(args.workload, s, args.seconds, 0) for s in seeds]
    result = {
        "workload": args.workload,
        "seeds": list(seeds),
        "end_to_end": summarize([r["metrics"] for _, r in plain]),
        "attempted": sum(r["attempted"] for _, r in plain),
        "failed": sum(r["failed"] for _, r in plain),
    }
    if args.traced_runs:
        traced = [
            one_run(args.workload, s, args.seconds, 1)
            for s in seeds[: args.traced_runs]
        ]
        result["per_layer"] = summarize([r["metrics"] for _, r in traced])
        as_metrics = lambda rep: {  # noqa: E731
            k: {"value": v, "unit": u} for k, (v, u) in rep["end_to_end"].items()
        }
        t = summarize([as_metrics(rep) for rep, _ in traced])
        result["trace_overhead"] = {
            k: {
                "traced_median": t[k]["median"],
                "untraced_median": v["median"],
                "traced_minus_untraced": t[k]["median"] - v["median"],
                "unit": v["unit"],
            }
            for k, v in result["end_to_end"].items()
        }
    print(json.dumps(result, indent=1))
    return 0 if result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

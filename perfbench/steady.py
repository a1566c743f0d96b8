"""Steadiness check: run one workload under several seeds, one process
after another, and print each metric's median, quartiles and spread
(inter-quartile distance as a share of the median).

    python3 perfbench/steady.py --workload corpus --seeds 1-10 [-- RUN_ARGS...]

Arguments after ``--`` go to every run (for example ``--trace 1`` or
``--data DIR``). Each run's result line is appended to ``--out`` (JSON
lines) so two sets of runs can be compared afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def cpu_ticks() -> list[int] | None:
    """Aggregate CPU ticks from /proc/stat (Linux), None elsewhere."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    """Share of CPU time the hypervisor took from this machine (steal)
    between two cpu_ticks() readings; host load that no run controls."""
    if not before or not after or len(before) < 8:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else None


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", default=None)
    p.add_argument("run_args", nargs=argparse.REMAINDER)
    args = p.parse_args()
    extra = args.run_args[1:] if args.run_args[:1] == ["--"] else args.run_args
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0", *extra,
        ]
        t0, ticks = time.time(), cpu_ticks()
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        wall, steal = time.time() - t0, steal_share(ticks, cpu_ticks())
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        passes = next((ln.split(": ", 1)[1] for ln in lines if ln.startswith("# pass seconds")), "")
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                     "steal": steal, "passes": passes, **result}) + "\n")
        row = {k: v["value"] for k, v in result["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        shown = " ".join(f"{k}={v:.4g}" for k, v in row.items() if not k.startswith("q."))
        print(f"seed {seed}: wall {wall:.1f}s steal {steal if steal is None else round(steal, 3)} "
              f"correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {shown}", flush=True)
    for k, vals in values.items():
        if len(vals) >= 2:
            q1, q2, q3 = stats.quartiles(vals)
            print(f"{k:28s} median {q2:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {stats.spread(vals):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload of the benchmark,
those BENCHMARK.json lists and ``vton_analytics``, it runs the benchmark
untraced and traced at the tiny size, and once more with one checked
output corrupted. It checks that

- every end-to-end and per-layer metric of BENCHMARK.json is printed, with
  its unit, and ``error_rate`` and ``peak_rss_mb`` are printed too;
- a corrupted output makes the run incorrect and is counted as failed ops;
- in every traced batch pass, the op walls add up to the pass wall,
  which the benchmark clocks apart from its ops, so time spent between
  ops would show; in a stream pass (one drain), the epoch durations
  Spark reports fit inside the drain wall;
- in every traced op, the Spark jobs of the action (``job_s``) fit inside
  the action wall, so ``job_s + gap_s`` equals it with a non-negative
  gap.

Each holds within 5%.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from layers import union_length
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOL = 0.05


def bench(workload: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "2", "--size", "tiny",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def check_names(result: dict, stdout: str, spec: list[dict],
                printed: tuple[str, ...] = ()) -> list[str]:
    errs = []
    got = result["metrics"]
    for m in spec:
        if m["name"] not in got:
            errs.append(f"missing metric {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"]:
            errs.append(f"{m['name']}: unit {got[m['name']]['unit']} "
                        f"!= {m['unit']}")
        elif not isinstance(got[m["name"]]["value"], (int, float)):
            errs.append(f"{m['name']}: value is not a number")
    for name in printed:
        if not any(line.startswith(f"{name} = ")
                   for line in stdout.splitlines()):
            errs.append(f"{name} not printed")
    return errs


def check_identities(spans_path: str) -> list[str]:
    with open(spans_path) as f:
        spans = json.load(f)["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    errs = []
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    for top in kids.get(None, []):
        wall = dur(top)
        ops = [s for s in kids.get(top["id"], [])
               if s["name"].startswith("op:")]
        if ops and abs(sum(map(dur, ops)) - wall) > TOL * wall:
            errs.append(f"pass at {top['start']:.3f}: op walls "
                        f"{sum(map(dur, ops)):.3f} != pass wall {wall:.3f}")
        for op in ops or [top]:
            parts = {s["name"]: s for s in kids.get(op["id"], [])}
            action = parts.get("action") or parts.get("drain")
            if "build" not in parts or action is None:
                errs.append(f"{op['name']}: no build/action spans")
                continue
            below = kids.get(action["id"], [])
            epochs = [e for e in below if e["name"].startswith("epoch:")]
            if sum(map(dur, epochs)) > (1 + TOL) * dur(action):
                errs.append(f"{op['name']}: epochs outlast the drain")
            jobs = [j for s in [action] + epochs for j in kids.get(s["id"], [])
                    if j["name"].startswith("job:")]
            covered = union_length([(j["start"], j["end"]) for j in jobs])
            if dur(action) and covered > (1 + TOL) * dur(action):
                errs.append(f"{op['name']}: job_s {covered:.3f} exceeds "
                            f"action wall {dur(action):.3f}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in WORKLOADS:
        res, out = bench(w, "--trace", "0")
        errs = check_names(res, out, spec["end_to_end"],
                           ("error_rate", "peak_rss_mb"))
        if not res["correct"] or res["failed"]:
            errs.append(f"clean run not correct: {res}")
        res, out = bench(w, "--trace", "1")
        errs += check_names(res, out, spec["per_layer"])
        spans = next(line.split(": ", 1)[1] for line in out.splitlines()
                     if line.startswith("spans: "))
        errs += check_identities(os.path.join(ROOT, spans))
        res, out = bench(w, "--trace", "0", "--corrupt")
        if res["correct"] or res["failed"] == 0:
            errs.append(f"corrupted output not caught: {res}")
        print(f"{w}: {'ok' if not errs else '; '.join(errs)}", flush=True)
        failures += [f"{w}: {e}" for e in errs]
    print("selftest:", "PASS" if not failures else f"{len(failures)} FAIL")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

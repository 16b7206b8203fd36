"""Self-check of the benchmark, and its tracing overhead.

    python3 perfbench/selfcheck.py
        Validates BENCHMARK.json, then runs every workload at the tiny
        scale (sf0.001 tables, 10 stream symbols over 30 days, a few
        operations), untraced and traced. Each run must exit 0, report
        no failure, and emit every metric that BENCHMARK.json names,
        with its unit.

    python3 perfbench/selfcheck.py --overhead --workload W --seeds 1 2 3
        Runs W at full scale untraced and traced on each seed, and
        prints the traced per-layer self times next to the untraced
        wall. Both walls are sums over operation kinds of the mean
        latency: the layers sum to the traced wall, and traced minus
        untraced is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
#: per-layer metrics holding self time; they sum to trace.pass_s
SELF_TIME = re.compile(r"^(sources|pipeline|sinks|streaming|ops)\..*_s$"
                       r"|^trace\.harness_s$")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_spec(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)), "a name is used twice"
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def run(spec: dict, workload: str, seed: int, seconds: float, trace: int,
        scale: str) -> tuple[dict, dict]:
    """One run: its context line and its result line."""
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--scale", scale]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    context, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(context)["context"], json.loads(result)


def tiny(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            _, res = run(spec, w["name"], 1, 1, trace, "tiny")
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, res
            assert isinstance(res["attempted"], int) and res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            for name, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), name
                if key == "end_to_end":
                    assert v["value"] > 0, (w["name"], name, v)
            print(f"ok  {w['name']} trace={trace} "
                  f"attempted={res['attempted']}", flush=True)


def overhead(spec: dict, workload: str, seeds: list[int]) -> None:
    seconds = spec["run_seconds"]
    shares = []
    for seed in seeds:
        context, _ = run(spec, workload, seed, seconds, 0, "full")
        _, traced = run(spec, workload, seed, seconds, 1, "full")
        traced = {k: v["value"] for k, v in traced["metrics"].items()}
        layers = {k: v for k, v in traced.items() if SELF_TIME.match(k)}
        print(f"seed {seed}")
        for k, v in sorted(layers.items(), key=lambda kv: -kv[1]):
            if v:
                print(f"  {k:32s} {v:9.4f} s")
        wall = traced["trace.pass_s"]
        untraced = sum(statistics.fmean(v)
                       for v in context["latencies"].values())
        shares.append((wall - untraced) / untraced)
        print(f"  {'sum of layer self times':32s} "
              f"{sum(layers.values()):9.4f} s")
        print(f"  {'traced wall per pass':32s} {wall:9.4f} s")
        print(f"  {'untraced wall per pass':32s} {untraced:9.4f} s")
        print(f"  {'tracing overhead':32s} {wall - untraced:9.4f} s "
              f"({100 * shares[-1]:+.1f}%)", flush=True)
    print(f"tracing overhead over {len(seeds)} seeds: median "
          f"{100 * statistics.median(shares):+.1f}%, range "
          f"{100 * min(shares):+.1f}% to {100 * max(shares):+.1f}%")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    spec = load_spec()
    check_spec(spec)
    if args.overhead:
        overhead(spec, args.workload, args.seeds)
    else:
        tiny(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())

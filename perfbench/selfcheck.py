#!/usr/bin/env python3
"""Self-check of the benchmark. Run from the root of a checkout:

    python3 perfbench/selfcheck.py

For every workload of BENCHMARK.json it runs run.py's main, imported, with
the workload's base set to the sf0.001 tables as they are (no scale-up),
untraced and traced, with a zero-second window, so every op runs its cold
pass, the warm-up passes and the fewest measured passes.
It asserts that every op's output matched its oracle, that the untraced run
prints exactly the end_to_end metrics and the traced run exactly the
per_layer metrics, each with its declared unit, that predictions.json covers
every per-layer metric, and that the benchmark fails without printing a
result in a directory holding only BENCHMARK.json and perfbench/.
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench  # noqa: E402


def run_small(workload, trace):
    """run.py's main on the sf0.001 tables as they are; (exit code, stdout)."""
    bench.WORKLOADS[workload] = (bench.WORKLOADS[workload][0], "sf0.001", None)
    sys.argv = ["run.py", "--workload", workload, "--seed", "7", "--seconds", "0",
                "--trace", str(trace)]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        try:
            bench.main()
            rc = 0
        except SystemExit as e:
            rc = e.code
    return rc, out.getvalue()


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    predicted = json.load(open(os.path.join(HERE, "predictions.json")))["metrics"]
    if set(predicted) != set(want[1]):
        problems.append(f"predictions.json covers {sorted(set(predicted) ^ set(want[1]))} wrongly")

    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            rc, out = run_small(w, trace)
            label = f"{w} trace={trace}"
            if rc != 0 or not out.strip():
                problems.append(f"{label}: exit {rc}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{label}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{label}: metrics {got} != declared {want[trace]}")
            for k, v in res["metrics"].items():
                if not isinstance(v["value"], (int, float)):
                    problems.append(f"{label}: {k} = {v['value']!r}")
            print(f"{label}: ok, {res['attempted']} ops checked", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "selfcheck_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(
        "target", "__pycache__"))
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload",
                        spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=170)
    rc, out = p.returncode, p.stdout
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out.strip():
        problems.append(f"bare directory: exit {rc}, stdout {out[-200:]!r}")
    else:
        print("bare directory: fails without a result, as it should")

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

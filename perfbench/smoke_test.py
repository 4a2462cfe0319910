#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the tiny scale (a few minutes).

Run from the repository root:

    python3 perfbench/smoke_test.py

For every workload it makes one untraced and one traced run and checks:
the result line has exactly the contract's keys; every metric named in
BENCHMARK.json is printed with its unit (and no other); the oracle compared
answers and found no mismatch (error_rate 0); end-to-end values are
positive; the traced run's spans nest (no span's children cover more than
the span) and its per-layer self times plus the unattributed remainder
add up to the traced wall time. Last, it checks that the runner fails
without a result when the library sources are absent.
"""
import json
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RUNS = ROOT / ".bench_build" / "perfbench" / "runs"
failures = []


def check(ok, what):
    if not ok:
        failures.append(what)
        print(f"FAIL {what}", flush=True)


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_spans(workload, metrics):
    spans = [json.loads(l) for l in (RUNS / f"{workload}-s7-t1.spans.jsonl").open()]
    check(spans, f"{workload}: spans written")
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        if not 0 <= s["self_ns"] <= dur:
            check(False, f"{workload}: span {s['name']} self {s['self_ns']} outside [0, {dur}]")
            break
        p = by_id.get(s["parent"])
        if p is not None and not (p["start_ns"] <= s["start_ns"] and s["end_ns"] <= p["end_ns"]):
            check(False, f"{workload}: span {s['name']} escapes parent {p['name']}")
            break
    layers = sum(v["value"] for k, v in metrics.items() if k.startswith("layer.") and k.endswith(".self_s"))
    wall = metrics["layer.traced_wall_s"]["value"]
    rest = metrics["layer.unattributed_s"]["value"]
    check(layers <= wall + 1e-6, f"{workload}: layer self times {layers} exceed traced wall {wall}")
    check(abs(layers + rest - wall) <= 0.01 * wall + 1e-3,
          f"{workload}: layers {layers} + unattributed {rest} != traced wall {wall}")


def main():
    for w in [x["name"] for x in BENCH["workloads"]]:
        for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            p = run(w, trace)
            lines = p.stdout.strip().splitlines()
            check(p.returncode == 0 and len(lines) >= 2, f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
            if p.returncode != 0 or len(lines) < 2:
                continue
            res, diag = json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys {set(res)}")
            check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: correct={res['correct']} failed={res['failed']} {diag['mismatches']}")
            check(diag["error_rate"] == 0 and diag["oracle_compared"] > 0,
                  f"{w}: error_rate {diag['error_rate']} over {diag['oracle_compared']} compared")
            want = {m["name"]: m["unit"] for m in spec}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace}: metric names/units differ: "
                  f"{set(got.items()) ^ set(want.items())}")
            if trace == 0:
                for k, v in res["metrics"].items():
                    check(v["value"] > 0, f"{w}: {k} = {v['value']} is not positive")
            else:
                check_spans(w, res["metrics"])
            print(f"ok {w} trace={trace} ({diag['oracle_compared']} answers checked)", flush=True)

    # without the library sources the runner must fail and print no result
    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
                        "--seconds", "2", "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
    check(p.returncode != 0 and not p.stdout.strip(), f"bare dir: exit {p.returncode}, stdout {p.stdout!r}")
    shutil.rmtree(bare, ignore_errors=True)

    print("FAILED" if failures else "PASSED", len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

1. Runs every workload once at a tiny scale (a 200-row `part`, the
   registry at fixture scale 0.001), untraced and traced, with the
   benchmark's own warm-up and measured operation counts; the workloads
   are those of BENCHMARK.json and `etl_spec`, runnable but not in it.
   It asserts that the result line has exactly the contract's keys,
   that every metric BENCHMARK.json names is present with its unit, that
   each is also printed as `name = value unit`, and that every check
   passed.
2. Injects one fault on the checking side (`--fault`: a row dropped
   from one ETL run's checked export, one registry count off by one)
   and asserts that it raises the failure count: the check catches it.
3. Runs the benchmark from a directory that holds only BENCHMARK.json
   and perfbench/, and asserts it exits non-zero without a result.

Exits non-zero on the first failed assertion.
"""
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
from run import EXTRA_WORKLOADS  # noqa: E402

TINY = {"etl_ref": ["--parts", "200"], "etl_spec": ["--parts", "200"],
        "registry": ["--scale", "0.001"]}


def bench(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), *TINY[workload], *extra]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    return p, time.time() - t0


def check(cond, msg):
    if not cond:
        print(f"SELFTEST FAILED: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def result_of(p):
    lines = p.stdout.strip().splitlines()
    check(p.returncode == 0 and lines, f"exit 0 with output "
          f"(rc={p.returncode}; stderr tail: {p.stderr[-600:]!r})")
    return json.loads(lines[-1]), lines[:-1]


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in [x["name"] for x in spec["workloads"]] + EXTRA_WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p, dt = bench(w, trace)
            res, lines = result_of(p)
            check(sorted(res) == ["attempted", "correct", "failed",
                                  "metrics"],
                  f"{w} trace={trace}: result keys ({dt:.0f} s)")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {kind} metric "
                  f"with its unit ({len(want)})")
            printed = {ln.split(" = ")[0]: ln.split(" ")[-1]
                       for ln in lines if " = " in ln}
            check(all(printed.get(k) == u for k, u in want.items()),
                  f"{w} trace={trace}: every metric printed by name "
                  f"with its unit")
            check(all(isinstance(v["value"], (int, float))
                      for v in res["metrics"].values()),
                  f"{w} trace={trace}: numeric values")
            if kind == "end_to_end":
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{w}: end-to-end metrics are never 0")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 2,
                  f"{w} trace={trace}: all {res['attempted']} operations "
                  f"correct")

    for w in ("etl_ref", "registry"):
        p, _ = bench(w, 0, "--fault")
        res, lines = result_of(p)
        ratio = [ln for ln in lines if ln.startswith("fail_ratio = ")]
        check(not res["correct"] and res["failed"] >= 1 and ratio
              and float(ratio[0].split()[2]) > 0,
              f"{w}: an injected fault raises fail_ratio "
              f"({res['failed']} of {res['attempted']})")

    bare = ROOT / ".bench_build" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns(
        "target", "__pycache__", "record"))
    p, dt = bench("etl_ref", 0, cwd=bare)
    last = (p.stdout.strip().splitlines() or [""])[-1]
    check(p.returncode != 0 and not last.startswith("{") and dt < 180,
          f"benchmark alone (no program sources) exits {p.returncode} "
          f"without a result in {dt:.1f} s")
    shutil.rmtree(bare, ignore_errors=True)
    print("SELFTEST PASSED")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about five minutes):

    python3 perfbench/selftest.py

Checks that every metric BENCHMARK.json names is printed with its unit,
in the summary and in the result line, for every workload, traced and
untraced; that a deliberately wrong expected answer is counted as a
failed operation; that the same seed generates identical inputs and
another seed different ones; and that without the program's sources the
benchmark exits non-zero without a result.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
failures = []


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(*args, cwd=ROOT):
    r = subprocess.run(["python3", "perfbench/run.py"] + list(args), cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    return r.returncode, r.stdout.strip().splitlines(), r.stderr


def result_of(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


for w in [x["name"] for x in BENCH["workloads"]]:
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        rc, out, err = run("--workload", w, "--seed", "3", "--seconds", "3",
                           "--trace", trace, "--scale", "tiny")
        res = result_of(out)
        label = "%s trace=%s" % (w, trace)
        check(rc == 0 and res is not None, label + ": exits 0 with a result line")
        if res is None:
            print(err[-3000:])
            continue
        check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
              label + ": result has exactly correct/attempted/failed/metrics")
        check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
              label + ": every check passes (%d attempted)" % res["attempted"])
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == want, label + ": reports exactly the %s metrics with their units" % key)
        check(all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                  for v in res["metrics"].values()), label + ": every value is a finite number")
        summary = "\n".join(out[:-1])
        missing = [n for n, u in want.items()
                   if not any(n in l and (" %s " % u) in l + " " for l in summary.splitlines())]
        check(not missing, label + ": summary prints every metric with its unit %s" % missing)
        if trace == "0":
            check("ops_failed_frac" in summary, label + ": summary prints ops_failed_frac")

rc, out, _ = run("--workload", "rag_serve", "--seed", "3", "--seconds", "3", "--trace", "0",
                 "--scale", "tiny", "--inject-wrong")
res = result_of(out)
check(rc == 0 and res is not None and res["correct"] is False and res["failed"] >= 1,
      "a wrong expected answer counts as a failed operation")
frac = [l for l in out if "ops_failed_frac" in l]
check(bool(frac) and float(frac[0].split()[1]) > 0, "ops_failed_frac rises above 0")

for w in [x["name"] for x in BENCH["workloads"]]:
    digests = [run("--workload", w, "--seed", s, "--scale", "tiny", "--gen-only")[1][-1]
               for s in ("5", "5", "6")]
    check(digests[0] == digests[1], "%s: the same seed generates identical inputs" % w)
    check(digests[0] != digests[2], "%s: another seed generates other inputs" % w)

bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
shutil.rmtree(bare, ignore_errors=True)
shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                ignore=shutil.ignore_patterns("target"))
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
rc, out, _ = run("--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0", cwd=bare)
check(rc != 0 and result_of(out) is None,
      "without the program's sources: non-zero exit and no result")
shutil.rmtree(bare, ignore_errors=True)

print("selftest: %d failed" % len(failures))
sys.exit(1 if failures else 0)

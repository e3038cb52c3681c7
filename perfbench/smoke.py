#!/usr/bin/env python3
"""Smoke test of the benchmark's own code, on the small input set
(perfbench/data/smoke, the sf0.001 tables).

    python3 perfbench/smoke.py [workload ...]

For every workload it checks that
  - an untraced and a traced run each print every metric BENCHMARK.json
    names, with its unit, and report correct outputs and no failures;
  - in the traced run, every operation's self times (its own and those
    of every span and Spark job under it) sum to its wall time, and every
    Spark job is attributed to a span;
  - daily_ingest's own per-day catch-up (written out so it can time each
    task) runs the same dates with the same task outcomes and survivors as
    LlmIngestDag.catchup itself (run.py --catchup-parity);
and, once, that
  - a corrupted expected output makes the run report failed operations;
  - run.py exits non-zero, printing no result, in a directory holding only
    BENCHMARK.json and perfbench/.
Exits non-zero if any check fails.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SMOKE = BENCH / "data" / "smoke"
SCRATCH = BENCH / ".work" / "smoke"

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def run(workload, trace, extra=(), cwd=ROOT, script=BENCH / "run.py"):
    cmd = [sys.executable, str(script), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--data", str(SMOKE), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p, result


def latest_record(workload, trace):
    recs = sorted((BENCH / "records").glob(f"{workload}-s7-t{trace}-*.json"))
    return json.loads(recs[-1].read_text())


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            parity = w == "daily_ingest" and trace == 0
            p, res = run(w, trace, ["--catchup-parity"] if parity else [])
            check(res is not None, f"{w} trace={trace}: prints a result line")
            if res is None:
                sys.stderr.write(p.stderr[-3000:])
                continue
            got = res["metrics"]
            want = {m["name"]: m["unit"] for m in names}
            check(set(got) == set(want) and all(got[k]["unit"] == u for k, u in want.items()),
                  f"{w} trace={trace}: every metric named with its unit")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} trace={trace}: correct, {res['failed']}/{res['attempted']} failed")
            if parity:
                got = latest_record(w, 0)["facts"]["catchup_parity"]
                check(got == "same", f"{w}: same days and outcomes as LlmIngestDag.catchup"
                      + ("" if got == "same" else f" ({got})"))
            if trace:
                layers = latest_record(w, 1)["summary"]["detail"]["layers"]
                check(layers["op_self_sum_gap_s"] < 1e-6,
                      f"{w}: op self times sum to op wall "
                      f"(largest gap {layers['op_self_sum_gap_s']:.1e} s)")
                m = latest_record(w, 1)["summary"]["metrics"]
                check(m["spark.unattributed_jobs"][0] == 0 and m["spark.jobs"][0] > 0,
                      f"{w}: all {m['spark.jobs'][0]} jobs carry their span")

    # a corrupted expected output must show up as failed operations
    query = next((w for w in workloads if w != "daily_ingest"), None)
    if query:
        SCRATCH.mkdir(parents=True, exist_ok=True)
        exp = (SMOKE / "expected" / f"{query}.txt").read_text().splitlines()
        name, rows, digest = exp[0].split()
        exp[0] = f"{name} {rows} {'0' * len(digest)}"
        bad = SCRATCH / f"{query}.corrupt.txt"
        bad.write_text("\n".join(exp) + "\n")
        p, res = run(query, 0, ["--expected", str(bad)])
        check(res is not None and res["failed"] > 0 and not res["correct"],
              f"{query}: corrupted expected output for {name} gives failed operations "
              f"({res and res['failed']}/{res and res['attempted']})")

    # without the program's sources the benchmark fails without a result
    bare = SCRATCH / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "records", "target", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    p, res = run(workloads[0], 0, cwd=bare, script=bare / "perfbench" / "run.py")
    check(p.returncode != 0 and res is None,
          f"bare directory: exit {p.returncode}, no result line")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"\n{len(failures)} smoke check(s) failed" if failures else "\nall smoke checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

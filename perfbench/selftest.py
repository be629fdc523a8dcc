#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size.

Usage (from the repository root):
    python3 perfbench/selftest.py

Runs every workload on the one-copy input with one set-up round and the
fewest repetitions, in both the untraced and the traced mode, with a
deliberately failing query added, and checks that:
  - every metric BENCHMARK.json names is printed with its unit;
  - the failing query is recorded with its exception, message and phase,
    and counted in `failed`;
  - the same seed gives byte-identical generated inputs (and another seed
    different ones).
Exits 0 when all checks pass.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "selftest")

sys.path.insert(0, HERE)
import gen  # noqa: E402

problems = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        problems.append(what)


def digests(d: str) -> dict:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_inputs() -> None:
    a, b, c = (os.path.join(WORK, x) for x in ("a", "b", "c"))
    gen.generate(a, 5, 2)
    gen.generate(b, 5, 2)
    gen.generate(c, 6, 2)
    da, db, dc = digests(a), digests(b), digests(c)
    expect(len(da) == len(gen.TABLES) and da == db,
           "same seed gives byte-identical inputs")
    expect(da["documents.parquet"] != dc["documents.parquet"],
           "another seed gives other inputs")


def check_run(spec: dict, workload: str, trace: int) -> None:
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--copies", "1", "--setup-rounds", "1", "--min-reps", "1",
           "--inject-failure"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    tag = f"{workload} trace={trace}"
    expect(r.returncode == 0, f"{tag}: exits 0")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        print(r.stderr[-3000:])
        return
    result, record = json.loads(lines[-1]), json.loads(lines[-2])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"{tag}: result line has exactly the four keys")
    names = spec["per_layer"] if trace else spec["end_to_end"]
    for m in names:
        got = result["metrics"].get(m["name"])
        expect(got is not None and got.get("unit") == m["unit"]
               and isinstance(got.get("value"), (int, float)),
               f"{tag}: {m['name']} printed in {m['unit']}")
    expect(set(result["metrics"]) == {m["name"] for m in names},
           f"{tag}: no metric beyond those BENCHMARK.json names")
    injected = [f for f in record["failures"]
                if f["query"] == "selftest_failing_query"]
    expect(any(f["phase"].endswith(":exec") and f["exception"]
               and "injected failure" in f["message"] for f in injected),
           f"{tag}: failing query recorded with exception, message and phase")
    expect(result["failed"] >= 1 and not result["correct"],
           f"{tag}: failing query counted in failed")
    expect(any(f["phase"].startswith("reference:") for f in injected),
           f"{tag}: failure in the reference round recorded")
    expect(result["failed"] == len(record["failures"]),
           f"{tag}: every recorded failure, set-up rounds included, counted")
    if not trace:
        ok = result["metrics"]["ok_frac"]["value"]
        expect(abs(ok - (1 - result["failed"] / result["attempted"])) < 1e-9,
               f"{tag}: ok_frac = 1 - failed / attempted")


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        check_inputs()
        for w in spec["workloads"]:
            for trace in (0, 1):
                check_run(spec, w["name"], trace)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("SELFTEST " + ("PASSED" if not problems else f"FAILED ({len(problems)})"))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())

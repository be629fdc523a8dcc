#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
    python3 perfbench/run.py --workload fleet --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source when they changed (sbt,
perfbench/build.sbt), runs one JVM for the workload, compares every query
that has a DuckDB oracle against DuckDB on the same generated input, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones. The full record (provenance, per-query times,
every failure with its reason) is printed on the line before and kept
under .perfbench/ at the repository root, with the span trace of a
traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["fleet", "dedup_search"]
HEAP = "3g"
RUN_LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E = ["wall_cal", "peak_heap_mb"]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build_inputs() -> list:
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(env: dict) -> None:
    """Compiles engine + harness unless the sources match the last build."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in benv:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        benv["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=benv, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        print("\n".join(r.stdout.splitlines()[-30:]), file=sys.stderr)
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def git_state() -> dict:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return {"sha": None, "dirty": None}
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=20).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, text=True, capture_output=True,
                               timeout=20).stdout.strip() != ""
        return {"sha": sha or None, "dirty": dirty}
    except (OSError, subprocess.SubprocessError):
        return {"sha": None, "dirty": None}


def run_jvm(args, env: dict, work: str, record: str, extra: list,
            deadline: float) -> dict:
    home = spark_home()
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--record", record,
            "--gen", os.path.join(HERE, "gen.py")] + extra)
    # the JVM's own output is progress and diagnostics: keep it off stdout
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                         stderr=sys.stderr)
    try:
        p.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("benchmark JVM exceeded its time limit")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(record):
        die(f"benchmark JVM exited with {p.returncode}")
    with open(record) as fh:
        return json.load(fh)


def main() -> int:
    t0 = time.time()
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smallest-size knobs for perfbench/selftest.py
    ap.add_argument("--copies", type=int)
    ap.add_argument("--setup-rounds", type=int)
    ap.add_argument("--min-reps", type=int)
    ap.add_argument("--inject-failure", action="store_true")
    args = ap.parse_args()
    # the engine's sources and its dev tools (the oracle's comparison rules,
    # the replication constants) sit next to perfbench/
    for need in (os.path.join("src", "main", "scala"),
                 os.path.join("dev", "selfcheck.py"),
                 os.path.join("dev", "make_scale_corpus.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found next to perfbench/")
    sys.path.insert(0, HERE)
    import oracle
    extra = []
    for opt in ("copies", "setup_rounds", "min_reps"):
        if getattr(args, opt) is not None:
            extra += ["--" + opt.replace("_", "-"), str(getattr(args, opt))]
    if args.inject_failure:
        extra += ["--inject-failure", "1"]

    env = dict(os.environ)
    env.setdefault("SPARK_HOME", spark_home())
    env["SPARK_LOCAL_IP"] = env.get("SPARK_LOCAL_IP", "127.0.0.1")
    build(env)
    # a run that had to build may take longer; every other run ends
    # within RUN_LIMIT_S of its start
    deadline = max(t0 + RUN_LIMIT_S, time.time() + 120)

    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tag = f"{args.workload}-trace{args.trace}"
    try:
        rec = run_jvm(args, env, work, os.path.join(work, "record.json"),
                      extra, deadline)
        t1 = time.time()
        checks = oracle.check(rec["input_dir"], os.path.join(work, "results"),
                              rec["oracle_sql"])
        print(f"[perfbench] jvm {t1 - t0:.1f} s, oracle {time.time() - t1:.1f} s",
              file=sys.stderr)
        if args.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(STATE, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    oracle_failures = [{"query": q, "rep": 0, "phase": "oracle",
                        "exception": "OracleMismatch", "message": msg}
                       for q, msg in sorted(checks.items()) if msg]
    attempted = rec["attempted"] + len(checks)
    failed = rec["failed"] + len(oracle_failures)
    rec["failures"] += oracle_failures
    rec["oracle"] = {q: (msg or "OK") for q, msg in sorted(checks.items())}
    rec["provenance"]["git"] = git_state()
    rec["attempted"], rec["failed"] = attempted, failed
    rec["failed_frac"] = failed / attempted

    if args.trace:
        metrics = rec["per_layer"]
    else:
        metrics = {k: rec["end_to_end"][k] for k in E2E}
        metrics["ok_frac"] = {"value": 1.0 - failed / attempted, "unit": "fraction"}
        metrics["setup_s"] = {"value": rec["setup"]["setup_s"], "unit": "s"}
    del rec["oracle_sql"]
    with open(os.path.join(STATE, f"{tag}.record.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "provenance",
                                          "setup", "reps", "rep_wall_s",
                                          "rep_cal_s", "queries",
                                          "tail_pct", "tail_n",
                                          "end_to_end", "failed_frac",
                                          "failures")}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

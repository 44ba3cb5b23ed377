#!/usr/bin/env python3
"""Benchmark of the engine's reference DAG and of an analyst's dashboard.

    python3 perfbench/run.py --workload dag|interactive --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together with
the harness (`sbt compile` in perfbench/, which also fills the repository's
target/ directories) and generates the fixture; later runs reuse both. A run
writes only under perfbench/.work/.

Workloads (see workloads.md for sizes and the layer -> metric table):
  dag          the reference Airflow DAG, stage by stage, each output written
               to a parquet sink; a fresh session per pass.
  interactive  one analyst in a closed loop over a dashboard mix, each result
               collect()ed; one live session, seeded query order.

A run first makes a warm-up pass, whose outputs are checked against the
engine's DuckDB oracles (and, for dag, an untimed settle pass), then times
passes for --seconds (at least one DAG pass or two rounds of the mix).
Every later output must equal the checked one. With --trace 1 it makes an
untraced and a traced pass and prints the per-layer metrics instead.

The last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
# written by the build: the harness's runtime classpath (engine + Spark)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
FIXTURE_SEED = 42
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# set-up, checks and the overrun of the last timed pass, on top of --seconds
SETUP_ALLOWANCE_S = 160


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles engine + harness and records the runtime classpath, unless
    that record is newer than every source; returns the seconds spent. A
    tree without the engine's build cannot be benchmarked."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("the engine's build (../build.sbt) was not found; "
            "run from a full checkout of the repository")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return 0.0
    started = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    with open(log_path, "w") as log:
        log.write(r.stdout + r.stderr)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed; see {log_path}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return time.time() - started


def fixture():
    """The seed=42 base fixture, generated once per version of gen.py."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(WORK, f"fixture-{FIXTURE_SEED}-{version}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_base(tmp, FIXTURE_SEED)
        os.replace(tmp, path)
    return path


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def launch(workload, data, out, seconds, trace, seed, deadline):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", *JVM_OPENS,
           f"-Djava.io.tmpdir={out}/tmp",
           "-cp", open(CLASSPATH).read().strip(), "perfbench.Harness",
           "--workload", workload, "--data", data, "--out", out,
           "--seconds", str(seconds), "--trace", str(trace), "--seed", str(seed),
           "--t0", str(int(time.time() * 1000))]
    os.makedirs(f"{out}/tmp")
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness timed out; see {out}/jvm.log")
    if code != 0:
        die(f"harness exited with {code}; see {out}/jvm.log")


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dag", "interactive"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    # a run ends within --seconds plus the set-up allowance, not counting a build
    deadline = started + build() + a.seconds + SETUP_ALLOWANCE_S
    data = fixture()
    out = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    launch(a.workload, data, out, a.seconds, a.trace, a.seed, deadline)

    run = json.load(open(os.path.join(out, "run.json")))
    calls = read_jsonl(os.path.join(out, "calls.jsonl"))
    passes = read_jsonl(os.path.join(out, "passes.jsonl"))
    problems = []

    # 1. the warm-up outputs against the DuckDB oracles (cached per fixture)
    missing = sorted(set(run["mix"]) - set(run["oracles"]))
    problems += [f"{n}: no oracle" for n in missing]
    verdicts = oracle.check_outputs(ROOT, data, f"{out}/sink/p0", run["oracles"],
                                    os.path.join(WORK, "oracle-cache"))
    problems += [f"{n}: oracle mismatch: {v}" for n, v in verdicts.items() if v]

    # 2. every timed call succeeded and its sink output equals the checked one
    problems += [f"{c['name']} pass {c['pass']}: {c['error']}" for c in calls if c["error"]]
    check = oracle.load_check(ROOT)
    con = oracle.connect(data, [])
    ref = {n: oracle.canonical_hash(check, oracle.read_result(con, f"{out}/sink/p0/{n}"))
           for n in run["mix"] if not any(c["error"] for c in calls
                                          if c["pass"] == 0 and c["name"] == n)}
    for c in calls:
        c["mismatch"] = False
        if c["pass"] > 0 and not c["error"] and c["name"] in ref:
            got = oracle.canonical_hash(
                check, oracle.read_result(con, f"{out}/sink/p{c['pass']}/{c['name']}"))
            if got != ref[c["name"]]:
                c["mismatch"] = True
                problems.append(f"{c['name']} pass {c['pass']}: output differs from "
                                "the checked one")
    shutil.rmtree(f"{out}/sink", ignore_errors=True)

    attempted = len(calls)
    failed = (sum(1 for c in calls if c["error"] or c["mismatch"])
              + sum(1 for v in verdicts.values() if v) + len(missing))

    # 3. metrics; a traced run also proves each timed plan is the full plan
    if a.trace:
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        stages = read_jsonl(os.path.join(out, "stages.jsonl"))
        engine = json.load(open(os.path.join(out, "engine.json")))
        values = metrics.layers(run, calls, passes, spans, stages, engine)
        values["run.fail_ratio"] = failed / max(attempted, 1)
        plans = [s for s in spans if s["kind"] == "plan" and "full_joins" in s]
        if not plans:
            problems.append("no full-plan check ran")
        problems += [f"{s['parent']}: executed plan lost joins or sorts of the full plan"
                     for s in plans if not metrics.full_plan_ok(s)]
        # each call's phases must cover its wall time up to its share of the
        # tracing overhead (at least 50 ms); what they miss is a gap
        walls = {c["span"]: c["wall_s"] for c in calls if not c["error"]}
        tol = max(0.05, abs(values["trace.overhead_s"]) / len(run["mix"]))
        problems += [f"{c}: build + plan + execute != wall"
                     for c in metrics.phases_cover_wall(spans, walls, tol)]
        names = metrics.LAYER_METRICS
    else:
        values = metrics.end_to_end(run, calls, passes)
        names = metrics.END_TO_END
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": metrics.unit_of(n)} for n in names},
    }))


if __name__ == "__main__":
    main()

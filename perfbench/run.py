#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program from source
(sbt, offline) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. Inputs are generated from the seed, the harness JVM
sets up, verifies, measures and writes `result.json`, and the outputs are
then checked against DuckDB before the result line is printed. With
`--trace 1` the line carries the per-layer metrics of a traced run instead
of the end-to-end metrics. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# scale factor of each workload's tables; the tables are the same for every
# run (seed DATA_SEED), the run's --seed draws its requests and entry order
SCALE = {"dashboard": 0.1, "curation": 0.02}
# the set-up's warm-up tables
WARM_SCALE = 0.001
DATA_SEED = 42
CPUS = 4
# a fixed-size heap (-Xms = -Xmx): with a growing heap, runs of one seed
# landed in two modes ~20% apart depending on how the collector sized it
JVM_HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(cp_file):
        return open(cp_file).read()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
        "-Dsbt.ivy.home=" + os.path.join(WORK, "ivy2"),
        "-Dsbt.server.autostart=false"]))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in p.stdout.splitlines()[-60:] if not l.startswith("/")))
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1]


def inputs(sf):
    import gen
    d = os.path.join(WORK, "data", f"seed{DATA_SEED}_sf{sf}")
    if not os.path.exists(os.path.join(d, "done")):
        gen.generate(d, sf, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def metrics_of(res, trace, spec):
    if trace:
        declared = [m["name"] for m in spec["per_layer"]]
        extra = sorted(set(res["layers"]) - set(declared))
        if extra:
            fail(f"undeclared per-layer metrics {extra}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        return {n: {"value": res["layers"].get(n) or 0.0, "unit": units[n]} for n in declared}
    values = {
        "op_p50_s": res["op_p50_s"],
        "ops_per_s": res["ops_per_s"],
        "setup_s": statistics.median(res["setup_s"]),
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in SCALE:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not beside perfbench/")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()
    # the run's time limit counts from here: the first run in a checkout
    # also builds, which has a limit of its own
    t_start = time.time()
    data = inputs(SCALE[a.workload])
    out = os.path.join(WORK, "runs", f"{a.workload}_{a.seed}_{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--warm-data", inputs(WARM_SCALE), "--out", out, "--cpus", str(CPUS)]
    budget = DEADLINE_S - (time.time() - t_start)
    t_jvm = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=out, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {log.name}")
    if p.returncode != 0:
        fail(f"harness exited {p.returncode}; see {os.path.join(out, 'jvm.log')}")
    t_jvm = time.time() - t_jvm
    with open(os.path.join(out, "jvm.log")) as log:
        sys.stderr.writelines(l for l in log if l.startswith("[perfbench]"))
    res = json.load(open(os.path.join(out, "result.json")))
    t_check = time.time()

    import check
    bad_checks = check.run_checks(data, res["checks"])
    verified = {c["key"]: c["digest"] for c in res["checks"]}
    failed = 0
    for o in res["ops"]:
        wrong_digest = o["key"] in verified and verified[o["key"]] and o["digest"] != verified[o["key"]]
        if not o["ok"] or wrong_digest or o["key"] in bad_checks or o["key"] not in verified:
            failed += 1
    for k, why in sorted(bad_checks.items()):
        print(f"perfbench: check failed: {k}: {why}", file=sys.stderr)
    spans = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        shutil.move(spans, os.path.join(WORK, "spans", f"{a.workload}_{a.seed}.jsonl"))
    shutil.rmtree(out, ignore_errors=True)
    print(f"perfbench: {a.workload} seed {a.seed}: jvm {t_jvm:.1f} s, checks {time.time() - t_check:.1f} s, "
          f"total {time.time() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not bad_checks,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": metrics_of(res, a.trace == 1, spec),
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Layered benchmark of the graft query engine.

    python3 perfbench/run.py --workload kiln_features --seed 1 --seconds 10 --trace 0

Builds the repository and the harness from source with sbt (once per source
state), then runs one workload in a fresh JVM pinned to local[nproc] with a
heap sized from MemTotal. Prints a metric table and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The full artifact (per-query digests and times, passes,
loadavg, failures) and, traced, the span file land in perfbench/out/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.1")
TMP = os.path.join(HERE, "target", "tmp")
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 170
# what Spark's launcher passes to a JDK 17 driver (JavaModuleOptions)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, log_path, timeout, cwd, env=None):
    """Runs cmd with stdout+stderr to log_path; kills its process group on
    timeout or interrupt and waits for it. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def source_stamp():
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath."""
    os.makedirs(LAUNCH, exist_ok=True)
    os.makedirs(TMP, exist_ok=True)
    stamp_file = os.path.join(LAUNCH, "stamp")
    cp_file = os.path.join(LAUNCH, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    log = os.path.join(LAUNCH, "build.log")
    # resolve offline from the local caches, as the repository's own test
    # command does, unless the caller configured sbt already
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={TMP}", "compile", "export Runtime/fullClasspath"],
                       log, BUILD_TIMEOUT_S, HERE, env)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        die(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap_gb():
    """A quarter of MemTotal, within [2, 8] GiB: the driver and executors
    share this one JVM, and the box is shared with other processes."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // (4 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    expected = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    os.makedirs(OUT, exist_ok=True)
    prefix = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    for stale in (prefix + ".json", prefix + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = ["java", f"-Xmx{heap}g", "-XX:+UseParallelGC", f"-Xms{heap}g", f"-Djava.io.tmpdir={TMP}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--data", DATA,
            "--digests", os.path.join(HERE, "digests.tsv"), "--out", prefix,
            "--local-dir", TMP]
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    code = run_bounded(cmd, prefix + ".log", JVM_TIMEOUT_S, ROOT)
    if code != 0 or not os.path.exists(prefix + ".json"):
        die(f"harness failed (exit {code}); see {prefix}.log")
    with open(prefix + ".json") as f:
        art = json.load(f)
    got = {k: v["unit"] for k, v in art["metrics"].items()}
    if got != expected:
        die(f"harness metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(expected.items())}")

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {cores}  heap {heap}g  "
          f"passes {len(art['passes'])}  loadavg {art['loadavg_start'][0]}->{art['loadavg_end'][0]}")
    for k, v in art["metrics"].items():
        print(f"  {k:<26} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'failed_frac':<26} {art['failed_frac']:>16.6g} frac  "
          f"({art['failed']} of {art['attempted']} query runs)")
    for q, why in art["failed_queries"].items():
        print(f"  FAILED {q}: {why}")
    print(f"  artifact {os.path.relpath(prefix, ROOT)}.json")
    print(json.dumps({k: art[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

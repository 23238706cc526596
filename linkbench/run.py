#!/usr/bin/env python3
"""Link-graph job benchmark: one run of one workload.

    python3 linkbench/run.py --workload crawl_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark with sbt
when their sources changed since the last build (the classpath is kept in
.bench_build/), then runs linkbench.Main in one JVM with a fixed heap and
an environment cleared of the engine's SPARK_GRAFT_* knobs. Prints a header
line with the host facts, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer
ones. Every file the run writes (Spark local dirs, TableIO tables) lives
under .bench_build/run-<pid>/ and is deleted before it exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "4g"
JOB_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
WORKLOADS = ("crawl_pipeline", "undirected_kernels")

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group if it outlives
    `timeout` or this script is stopped. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_files():
    """Every file the build reads, relative to the repository root."""
    tops = ["build.sbt", "project", "src/main", "linkbench/build.sbt",
            "linkbench/project", "linkbench/src"]
    out = []
    for top in tops:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    digest = hashlib.sha256()
    for rel in source_files():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if saved_stamp == stamp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write("\n".join(out.splitlines()[-40:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb, "heap": HEAP}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(spec_file)):
        fail("run from a checkout of the engine: build.sbt, src/main and BENCHMARK.json are needed")
    with open(spec_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    facts = host_facts()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env.update(SPARK_DRIVER_MEM=HEAP, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "linkbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, str(facts["nproc"])]
    try:
        code, _ = run_group(cmd, JOB_TIMEOUT_S, cwd=work, env=env, stdout=sys.stderr)
        if code != 0:
            fail(f"benchmark JVM exited with {code}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["values"]
    names = [m["name"] for m in wanted]
    unknown = set(values) - set(names)
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if args.trace:
        # a layer the workload does not call reads 0
        values = {n: values.get(n, 0.0) for n in names}
    elif set(values) != set(names):
        fail(f"end-to-end metrics not measured: {sorted(set(names) - set(values))}")
    header = dict(facts, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, **res["header"])
    print(json.dumps({"header": header}))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    # a stop request unwinds through run_group, which kills its process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()

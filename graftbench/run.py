#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage, from the root of a graft checkout:

    python3 graftbench/run.py --workload NAME --seed N --seconds N --trace 0|1

Builds graft and the benchmark from source with sbt when the sources changed
since the last build, generates the data sets when missing, runs the workload
in one JVM and prints two JSON lines: the full report (provenance, every
end-to-end and per-layer figure with its sample count), then the result line
with the metrics BENCHMARK.json names. Build output, data, working copies and
reports go to $CARGO_TARGET_DIR (default .bench_build) under the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("interactive", "graph_iterative", "write_read", "scale_x10")
# Spark core count: fixed, but never more than the machine has.
CORES = min(4, len(os.sched_getaffinity(0)))
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout, kill the whole group
    (sbt's launcher starts a JVM of its own) and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", os.path.join("graftbench", "build.sbt")]
    for top in ("project", os.path.join("graftbench", "project")):
        for name in sorted(os.listdir(os.path.join(ROOT, top))):
            if name.endswith((".sbt", ".scala", ".properties")):
                files.append(os.path.join(top, name))
    for top in (os.path.join("src", "main"), os.path.join("graftbench", "src", "main")):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in sorted(filenames)]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(bdir, fp):
    """The runtime classpath of the benchmark, building it when stale."""
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        rc, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export graftbench/Runtime/fullClasspath"],
                    BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    return cp


def java(cp, bdir, main, args, log):
    # A fixed, pre-touched heap: peak RSS then does not depend on when the
    # collector chose to grow the heap (without it, peak RSS moves by a third
    # between runs of the same workload). Heap growth shows in the report's
    # peak_heap_mb instead.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(bdir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(bdir, "spark-local"))
    with open(log, "w") as err:
        rc, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
    if rc != 0:
        fail(f"{main} exited with {rc}, see {log}")
    return out


def data_version():
    """The generator's version: a hash of its source, so that any edit to it
    rebuilds the data."""
    with open(os.path.join(HERE, "src", "main", "scala", "graftbench", "DataGen.scala"), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def ensure_data(cp, bdir, scale, version):
    """Generate a data set unless its manifest (written last by DataGen, as
    DataGen.manifest spells it) names this version; returns the generation
    report of the last time it ran."""
    manifest = os.path.join(bdir, "data", scale, "_MANIFEST")
    report = os.path.join(bdir, "data", f"{scale}.json")
    want = f"graftbench-data {version} scale={scale}\n"
    have = open(manifest).read() if os.path.exists(manifest) else None
    if have != want or not os.path.exists(report):
        out = java(cp, bdir, "graftbench.GenMain", [bdir, str(CORES), scale, version],
                   os.path.join(bdir, f"generate-{scale}.log"))
        with open(report, "w") as fh:
            fh.write(out.strip().splitlines()[-1])
    with open(report) as fh:
        return json.load(fh)


def provenance(fp):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": fp}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a graft checkout ({need} not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    bdir = build_dir()
    fp = fingerprint(source_files())
    cp = classpath(bdir, fp)
    version = data_version()
    generated = ensure_data(cp, bdir, "sf0.1", version)
    if a.workload == "scale_x10":
        generated = ensure_data(cp, bdir, "x10", version)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = java(cp, bdir, "graftbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", bdir, "--cores", str(CORES), "--data-version", version],
               os.path.join(bdir, "logs", f"{tag}.log"))
    report = json.loads(out.strip().splitlines()[-1])
    report.update(provenance(fp))
    report["data_generate_s"] = generated["generate_s"]
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    with open(os.path.join(bdir, "results", f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)

    if a.trace:
        metrics = {m["name"]: report["layers"][m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": report[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps(report))
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

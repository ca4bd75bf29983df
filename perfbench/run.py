#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest|mutate|lookup \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds: sbt compiles the
library and the benchmark, their class directories are packed into jars,
and one warm-up run records a class-data-sharing archive that later JVMs
start from. Everything lands in the build directory (`$CARGO_TARGET_DIR`,
else `.bench_build`) and sbt's `target/` directories; later runs reuse it
while the sources are unchanged.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The lines before it
carry the provenance stamp and the workload's own named metrics; the full
result (and, traced, the per-op ledger) is written under `results/` in the
build directory. Exits non-zero on any wrong answer or failed op.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "mutate", "lookup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
WARM_LIMIT_S = 240
HEAP = "2g"
YOUNG = "512m"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def source_digest():
    """Digest of every file the build reads, library and benchmark."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(p) for n in ns)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit, stdout, stderr):
    """Run `cmd` in its own process group; kill the group past `limit` s.
    Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def java_cmd(cp, work, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # A fixed heap and young generation: G1 then cycles the same eden
        # regions, so peak RSS tracks live data instead of GC timing.
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={work}",
        "-Dspark.ui.enabled=false", *extra, "-cp", cp, "perfbench.Main"]


def pack_jars(cp, bdir):
    """Class directories on the classpath → jars (the archive only takes
    classes from jars)."""
    out, jar_dir = [], os.path.join(bdir, "jars")
    shutil.rmtree(jar_dir, ignore_errors=True)
    os.makedirs(jar_dir)
    for i, entry in enumerate(cp.split(os.pathsep)):
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(jar_dir, f"{i}.jar")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, names in sorted(os.walk(entry)):
                for n in sorted(names):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, entry))
        out.append(jar)
    return os.pathsep.join(out)


def build(bdir, digest):
    """Compile, pack, and record the class-data-sharing archive; returns the
    saved build (classpath and JVM options), reusing it when up to date."""
    stamp = os.path.join(bdir, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the graft library sources are missing; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    with open(log, "wb") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           os.path.join(ROOT, "perfbench"), BUILD_LIMIT_S,
                           out, subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(log, errors="replace") as fh:
        lines = [l.strip() for l in fh if l.strip() and not l.startswith("[")]
    cp = next((l for l in reversed(lines) if ".jar" in l and os.pathsep in l), None)
    if cp is None:
        fail(f"no classpath in the build output; see {log}")
    cp = pack_jars(cp, bdir)
    # One warm-up of every workload records the classes a run loads; later
    # JVMs map them instead of loading and verifying each again.
    jsa = os.path.join(bdir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(bdir, "work", "warm")
    with open(os.path.join(bdir, "warm.log"), "wb") as out:
        run_bounded(java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) +
                    ["--workload", "warm", "--work", work], ROOT, WARM_LIMIT_S,
                    out, subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    saved = {"digest": digest, "classpath": cp,
             "jvm": [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []}
    with open(stamp, "w") as fh:
        json.dump(saved, fh)
    return saved


def git(*args):
    try:
        r = subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                           text=True, timeout=20)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times():
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def untraced_reference(results, workload):
    """op_mean_ms of the latest untraced run of `workload` in this build."""
    best = None
    for f in glob.glob(os.path.join(results, f"result-{workload}-*-t0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if best is None or r.get("ended", 0) > best.get("ended", 0):
            best = r
    return best["metrics"].get("op_mean_ms", {}).get("value") if best else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    bdir = build_dir()
    digest = source_digest()
    built = build(bdir, digest)
    run_started = time.time()

    ncores = cores()
    sha = git("rev-parse", "HEAD")
    stamp = {
        "git_sha": sha or "unavailable",
        "git_dirty": (git("status", "--porcelain") != "") if sha else None,
        "source_digest": digest,
        "nproc": ncores,
        "seed": a.seed,
        "workload": a.workload,
        "trace": int(a.trace),
        "load1_before": load1(),
    }
    steal0 = cpu_times()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(bdir, "work", tag)
    results = os.path.join(bdir, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    ledger = os.path.join(results, f"ledger-{tag}.json")
    cmd = java_cmd(built["classpath"], work, built["jvm"]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work, "--ledger", ledger]
    limit = max(30, RUN_LIMIT_S - (time.time() - run_started))
    out_path = os.path.join(work, "stdout.log")
    err_path = os.path.join(bdir, f"run-{a.workload}.log")
    try:
        with open(out_path, "wb") as out, open(err_path, "wb") as err:
            code = run_bounded(cmd, ROOT, limit, out, err)
        with open(out_path, errors="replace") as fh:
            line = next((l for l in reversed(fh.readlines())
                         if l.startswith("PERFBENCH_RESULT ")), None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {limit:.0f} s; see {err_path}")
    if code != 0 or line is None:
        fail(f"run failed (exit {code}); see {err_path}")
    res = json.loads(line[len("PERFBENCH_RESULT "):])
    stamp["load1_after"] = load1()
    steal1 = cpu_times()
    # Time the hypervisor gave this machine's CPUs to someone else.
    stamp["cpu_steal_frac"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
    stamp["contended"] = (stamp["load1_before"] > ncores or stamp["load1_after"] > ncores
                          or stamp["cpu_steal_frac"] > 0.05)
    for k in ("cores", "master", "spark_version", "java_version", "heap_max_mb"):
        stamp[k] = res[k]
    stamp["run_wall_s"] = round(time.time() - run_started, 3)
    res["provenance"] = stamp
    res["ended"] = time.time()
    if a.trace == "1":
        # The traced run's op time against the latest untraced run's.
        ref = untraced_reference(results, a.workload)
        res["metrics"]["trace.overhead_frac"]["value"] = \
            res["op_mean_ms"] / ref - 1.0 if ref else 0.0
        print(f"ledger: {ledger}")
    with open(os.path.join(results, f"result-{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)

    print("provenance " + json.dumps(stamp))
    print(f"sizing ({a.workload}): {res['sizing']}")
    print("setup phases (s): " + json.dumps(res["setup_phases_s"]))
    for name, m in res["named"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"FAILED {f}")
    failed = int(res["failed"])
    final = {"correct": failed == 0, "attempted": int(res["attempted"]),
             "failed": failed, "metrics": res["metrics"]}
    print(json.dumps(final))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

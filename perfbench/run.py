#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive|daily_etl \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. The first run builds graft and the harness
with sbt (offline), packs the class directories into jars and records a
class-data archive of one session set-up, all cached under .bench_build/;
inputs are generated from the seed under .bench_data/ and are not timed;
each run's scratch space is .bench_work/<workload>/.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics. The line
before it carries the workload's own metric names (query_p50_ms,
step_p50_s, batch_p50_s, ...), sample counts and the host-noise
calibration.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("interactive", "daily_etl")

# Input sizes. `full` is what BENCHMARK.json measures; `tiny` is the
# smoke-test size.
SIZES = {
    "full": {"interactive_sf": 0.02, "etl_users": 40, "etl_days": 30,
             "etl_run_days": 1, "ingest_batches": 1,
             "ingest_docs_per_batch": 312},
    "tiny": {"interactive_sf": 0.001, "etl_users": 8, "etl_days": 30,
             "etl_run_days": 1, "ingest_batches": 1,
             "ingest_docs_per_batch": 10},
}
CPUS = 3
HEAP = "2g"
# every run must end within 180 s
JVM_TIMEOUT_S = 165
JDK_OPENS = [
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


# ---------------------------------------------------------------- build

def source_files(root):
    """Everything the build reads from the checkout, for the cache key."""
    files = [os.path.join(root, f) for f in
             ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(root):
    """Compile graft and the harness; return the runtime classpath (jars
    only) and the class-data archive, or None when it could not be
    made."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(root, ".bench_build", "perfbench")
    cp_file = os.path.join(cache, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], cached["archive"]
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    # keep sbt's scratch files (native libraries, server socket, the
    # JVMs' perf-data files) in the checkout
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
                "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    os.makedirs(cache, exist_ok=True)
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    classpath = lines[-1]
    if "perfbench" not in classpath or ".jar" not in classpath:
        fail(f"could not read the classpath from {log}")
    classpath = ":".join(jar_dirs(classpath.split(":"),
                                  os.path.join(cache, "jars")))
    archive = class_archive(root, classpath, cache)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "archive": archive}, f)
    return classpath, archive


def jar_dirs(entries, out):
    """Class directories on the classpath packed into jars (the JVM's
    class-data archive takes classes from jars only)."""
    os.makedirs(out, exist_ok=True)
    result = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(out, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in sorted(os.walk(e)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, e))
            e = jar
        result.append(e)
    return result


def class_archive(root, classpath, cache):
    """Record the classes one session set-up loads into a class-data
    archive, so each run's JVM maps them instead of loading and
    verifying them again. Returns its path, or None."""
    archive = os.path.join(cache, "setup.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(cache, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = prepare_inputs(root, "interactive", 0, "tiny")
    rc, _ = run_jvm(root, classpath,
                    ["--workload", "interactive", "--data", data,
                     "--work", work, "--setup-only", "1",
                     "--cpus", str(CPUS)],
                    work, JVM_TIMEOUT_S,
                    [f"-XX:ArchiveClassesAtExit={archive}"])
    if rc != 0 or not os.path.exists(archive):
        print(f"perfbench: no class-data archive (exit {rc}); see "
              f"{work}/jvm.err", file=sys.stderr)
        return None
    return archive


# ---------------------------------------------------------------- inputs

def prepare_inputs(root, workload, seed, size):
    """Generate the workload's inputs for `seed` (cached per seed, size
    and generator version)."""
    s = SIZES[size]
    h = hashlib.sha256(json.dumps(s, sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    out = os.path.join(root, ".bench_data",
                       f"{workload}-{size}-seed{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(out, "_READY")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if workload == "interactive":
        gen.fixture_dir(seed, s["interactive_sf"], out)
    else:
        gen.etl_feed(seed, s["etl_users"], s["etl_days"],
                     s["etl_run_days"], os.path.join(out, "etl"))
        gen.ingest_feed(seed, s["ingest_batches"],
                        s["ingest_docs_per_batch"],
                        os.path.join(out, "corpus"))
    open(done, "w").close()
    return out


# ---------------------------------------------------------------- JVM

def run_jvm(root, classpath, args, work, timeout_s, jvm_flags=()):
    """Run the harness; return (exit code, peak RSS in MB)."""
    java = shutil.which("java")
    if not java:
        fail("java not found on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           *jvm_flags]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=root, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        timer = threading.Timer(timeout_s, p.send_signal, [signal.SIGKILL])
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- checks

def oracle_checks(root, data, check_dir):
    """Each interactive query's untimed result against its DuckDB twin,
    through the repository's own exact compare (tools/check.py)."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools",
                                                     "check.py"),
                        data, check_dir],
                       capture_output=True, text=True, timeout=120)
    results = []
    for line in p.stdout.splitlines():
        if not line.strip():
            break
        name, status = line.split(None, 1)
        ok = status.startswith("OK") or (status.startswith("rows-only")
                                         and "EMPTY" not in status)
        results.append({"name": f"oracle:{name}", "ok": ok,
                        "detail": status[:300]})
    if not results:
        results.append({"name": "oracle:check.py", "ok": False,
                        "detail": p.stderr[-300:]})
    return results


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "tools", "check.py"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala",
                                           "graft"))):
        fail("run from the root of a graft checkout (build.sbt, "
             "tools/check.py and src/main/scala/graft not found)")
    classpath, archive = build(root)
    data = prepare_inputs(root, a.workload, a.seed, a.size)

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_file = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--data", data, "--work", work,
            "--out", raw_file, "--seconds", str(a.seconds),
            "--seed", str(a.seed), "--trace", str(a.trace),
            "--cpus", str(CPUS)]
    t0 = time.time()
    rc, rss_mb = run_jvm(
        root, classpath, args, work, JVM_TIMEOUT_S,
        [f"-XX:SharedArchiveFile={archive}"] if archive else [])
    print(f"perfbench: harness {time.time() - t0:.1f} s", file=sys.stderr)
    if rc != 0 or not os.path.exists(raw_file):
        fail(f"harness exited {rc} after {time.time() - t0:.0f} s; "
             f"see {work}/jvm.err")
    with open(raw_file) as f:
        raw = json.load(f)
    if a.workload == "interactive":
        raw["checks"] += oracle_checks(root, data,
                                       os.path.join(work, "check"))

    summary = M.summarize(raw, rss_mb, CPUS)
    metrics = summary["per_layer"] if a.trace else summary["end_to_end"]
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "named": summary["named"],
                      "samples": summary["samples"],
                      "calibration": raw["calibration"],
                      "failed_ops": [o for o in raw["ops"] if not o["ok"]],
                      "failed_checks": [c for c in raw["checks"]
                                        if not c["ok"]]}))
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source (once per checkout), makes
the seeded inputs, runs one JVM that sets up and then drives the analytics,
serve and pipeline phases (see perfbench/README.md), checks every output,
and prints as its last line
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.json")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
SF = 0.001
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs_digest():
    """A digest of (path, size, mtime) over every input of the build: both
    build definitions and both source trees, so an edited build setting or
    a deleted source file also forces a rebuild."""
    files = []
    for base in (os.path.dirname(HERE), HERE):
        for pattern in ("*.sbt", "project/*.sbt", "project/*.scala", "project/*.properties",
                        "src/main/**/*"):
            files += glob.glob(os.path.join(base, pattern), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, log_path, limit_s, **kw):
    """Runs `cmd` in its own process group with output to `log_path`; kills
    the whole group on timeout or when this script is stopped. Returns
    (exit code, peak RSS of the child in KiB)."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            os.wait4(proc.pid, 0)
            raise SystemExit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        deadline = time.monotonic() + limit_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                _, _, usage = os.wait4(proc.pid, 0)
                proc.returncode = -9
                return -9, usage.ru_maxrss
            time.sleep(0.05)


def build():
    """Compiles engine + harness with sbt unless the last build was made
    from the same inputs."""
    digest = inputs_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            last = json.load(f)
        if last["digest"] == digest:
            return last["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    log_path = os.path.join(WORK, "build.log")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], log_path, BUILD_LIMIT_S,
                        cwd=HERE, env=env)
    with open(log_path) as f:
        lines = f.read().strip().splitlines()
    if code != 0 or not lines or "target/scala" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("build failed")
    with open(CLASSPATH, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def run_jvm(cp, args, limit_s):
    """Runs the harness JVM; returns (exit code, peak RSS in KiB)."""
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={args[0]}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(f"{args[0]}/tmp", exist_ok=True)
    return run_group(cmd, os.path.join(args[0], "jvm.log"), limit_s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources next to perfbench/: run from a full checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        conf = json.load(f)
    bad = [m for m in bench["end_to_end"] + bench["per_layer"]
           if not (stats.valid_name(m["name"]) and stats.valid_unit(m["unit"]))]
    if bad:
        raise SystemExit(f"malformed metric names or units in BENCHMARK.json: {bad}")
    if a.workload not in conf["workloads"]:
        raise SystemExit(f"unknown workload {a.workload}")
    zipf = conf["workloads"][a.workload]

    cp = build()
    t0 = time.monotonic()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        datagen.write(os.path.join(work, "data"), a.seed, SF, zipf)
        raw_path = os.path.join(work, "raw.json")
        code, maxrss = run_jvm(cp, [work, os.path.join(work, "data"), str(a.seed),
                                    str(a.seconds), str(a.trace), str(zipf), raw_path],
                               RUN_LIMIT_S - (time.monotonic() - t0))
        if code != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness JVM exited with {code}")
        with open(raw_path) as f:
            raw = json.load(f)
        shutil.copy(raw_path, os.path.join(WORK, f"last-{a.workload}-{a.trace}.json"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(WORK, f"last-{a.workload}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, reasons = stats.failures(raw)
    if a.trace:
        missing = stats.streaming_rows_without_batches(raw)
        if missing:
            reasons.append(f"streaming rows without micro-batches: {missing}")
            failed += len(missing)
        computed = stats.per_layer(raw)
        names = [m["name"] for m in bench["per_layer"]]
        detail = {}
    else:
        computed, detail = stats.end_to_end(raw, maxrss)
        names = [m["name"] for m in bench["end_to_end"]]
    for r in reasons:
        log(f"FAILED {r}")
    metrics = {n: {"value": computed[n][0], "unit": computed[n][1]} for n in names}
    detail.update({"workload": a.workload, "seed": a.seed, "phase_end_s": raw["marks_s"],
                   "analytics_passes": raw["analytics"]["passes"],
                   "serve_open_ops": len(raw["serve"]["open"]),
                   "oracle": {n: r["oracle"] for n, r in raw["analytics"]["rows"].items()},
                   "failures": reasons})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

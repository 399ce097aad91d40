#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, makes the inputs,
runs one workload in a fresh JVM and prints the result as the last stdout
line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record      # re-record digests.tsv

Run it from the repository root. Everything it leaves behind goes under
.bench_build/perfbench/ (classpath, generated tables, per-run reports and
logs) and under the sbt target/ directories; each run's working directory
is created there and deleted afterwards.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("curate", "index")
# bump when DataGen changes; digests.tsv is recorded against this version
DATA_VERSION = "v3"
# the JVM's share of a run; the build and input generation that a first
# run in a checkout adds have their own timeouts
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    return max(os.path.getmtime(p) for p in paths if os.path.isfile(p))


def run_logged(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group, stdout captured, stderr to log.
    Kills the whole group on timeout and waits for it to end."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{cmd[0]} timed out after {timeout} s (log: {log})")
    return p.returncode, out.decode("utf-8", "replace")


def build():
    """Compiles the program and the harness with sbt, offline, once per
    source change; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if (os.path.exists(cp_file)
            and os.path.getmtime(cp_file) >= newest_source_mtime()):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    code, out = run_logged(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, log, BUILD_TIMEOUT_S, env)
    with open(log, "a") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if code != 0 or not lines:
        die(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def fresh_dir(name):
    d = os.path.join(WORK, "runs", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def jvm(cp, rundir, args, log, timeout):
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
                                  "-cp", cp, "perfbench.Main"] + args)
    try:
        return run_logged(cmd, rundir, log, timeout)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def data_dir(cp):
    """Generates the input tables once per data version."""
    data = os.path.join(WORK, "data-" + DATA_VERSION)
    done = data + ".done"
    if os.path.exists(done):
        return data
    shutil.rmtree(data, ignore_errors=True)
    log = os.path.join(WORK, "gen.log")
    code, out = jvm(cp, fresh_dir("gen"), ["gen", data], log, BUILD_TIMEOUT_S)
    if code != 0:
        die(f"input generation failed (exit {code}); see {log}")
    with open(done, "w") as f:
        f.write(out.strip().splitlines()[-1] + "\n")
    return data


def last_json(out):
    for line in reversed(out.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the curate key digests into digests.tsv")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds is not None and a.seconds < 1:
        ap.error("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no program sources under {ROOT}: run from a full checkout")
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    started = time.time()
    cp = build()
    data = data_dir(cp)
    digests = os.path.join(HERE, "digests.tsv")

    if a.record:
        log = os.path.join(WORK, "record.log")
        code, _ = jvm(cp, fresh_dir("record"), ["record", data, digests], log,
                      BUILD_TIMEOUT_S)
        if code != 0:
            die(f"recording failed (exit {code}); see {log}")
        print(f"recorded {digests}")
        return

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    report = os.path.join(WORK, "reports", name + ".json")
    log = os.path.join(WORK, "reports", name + ".log")
    if os.path.exists(log):
        os.remove(log)
    code, out = jvm(cp, fresh_dir(name),
                    ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     data, digests, report], log, RUN_TIMEOUT_S)
    result = last_json(out)
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        die(f"run failed (exit {code}); see {log}", code or 1)

    # tracing overhead: traced minus untraced wall_s for the same workload
    # and seed, whichever of the two runs comes second
    with open(report) as f:
        rep = json.load(f)
    other = os.path.join(WORK, "reports",
                         f"{a.workload}-seed{a.seed}-trace{1 - a.trace}.json")
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)
        walls = {rep["trace"]: rep["end_to_end"]["wall_s"]["value"],
                 o["trace"]: o["end_to_end"]["wall_s"]["value"]}
        rep["trace_overhead_s"] = walls[True] - walls[False]
    rep["run_s"] = time.time() - started
    with open(report, "w") as f:
        json.dump(rep, f)
    with open(data + ".done") as f:
        rep_gen = json.loads(f.read())
    sent = rep["sentinel_pre"], rep["sentinel_post"]
    print(f"[perfbench] {name}: passes={rep['passes']} ops={rep['ops_per_run']} "
          f"failed_frac={rep['failed_frac']:.3f} "
          f"tail=p{rep['op_tail_percentile']:.0f} extra={rep['extra']} "
          f"gen_s={rep_gen['gen_s']} "
          f"sentinel_pre={sent[0]} sentinel_post={sent[1]} "
          + (f"trace_overhead_s={rep['trace_overhead_s']:.3f} "
             if "trace_overhead_s" in rep else "")
          + f"report={report}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --workload smoke       # self-check, see README.md
  python3 perfbench/run.py --workload refs        # regenerate perfbench/refs

Builds graft and the benchmark from source with sbt (offline) on first use,
then runs one workload in a fresh JVM. The last line of stdout is the result
JSON; everything the run leaves behind stays under .bench_build/graftbench.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170


def fail(code, msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, as sorted relative paths."""
    out = []
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(base)
        for d, _, files in os.walk(p):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """sbt writeLauncher → classpath + the parent build's JVM options."""
    launch = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return launch
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # heap of the measured JVM (the parent build reads it into javaOptions)
    env["SPARK_DRIVER_MEM"] = "4g"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(3, f"build failed (log: {log})")
    with open(os.path.join(HERE, "target", "launch.txt")) as src, \
            open(launch, "w") as dst:
        dst.write(src.read())
    with open(stamp, "w") as f:
        f.write(digest)
    return launch


def filesystem(path):
    """(mount point, fs type) holding `path`, from /proc/mounts."""
    best = ("", "?")
    with open("/proc/mounts") as f:
        for line in f:
            mnt, fstype = line.split()[1:3]
            if (path + "/").startswith(mnt.rstrip("/") + "/") and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, "run from the root of a graft checkout (build.sbt and src/ not found)")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    digest = source_digest()
    with open(build(digest)) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    mount, fstype = filesystem(WORK)
    cmd = ["java"] + jvm_opts + [
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", WORK, "--refs", os.path.join(HERE, "refs"),
        "--prov.fs", f"{fstype} at {mount}",
        "--prov.source_sha256", digest]
    log = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    timeout = None if a.workload in ("smoke", "refs") else RUN_TIMEOUT_S
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        t0 = time.time()
        out = []
        try:
            stdout, _ = p.communicate(timeout=timeout)
            out = stdout.splitlines()
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(4, f"{a.workload} did not finish in {timeout} s (log: {log})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        # what the JVM printed (smoke's findings), on stderr: a failed run
        # prints no result
        sys.stderr.write("".join(line + "\n" for line in out))
        fail(5, f"{a.workload} exited {p.returncode} after {time.time() - t0:.0f} s (log: {log})")
    for line in out[:-1]:
        print(line)
    if a.workload in ("smoke", "refs"):
        if out:
            print(out[-1])
        return
    result = json.loads(out[-1]) if out else None
    if not (isinstance(result, dict) and
            set(result) == {"correct", "attempted", "failed", "metrics"}):
        fail(6, "the benchmark JVM printed no result line")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        f.write("\n".join(out[-2:]) + "\n")
    untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace == 1 and os.path.exists(untraced):
        print("graftbench tracing overhead " + json.dumps(overhead(out[-2], untraced)))
    print(json.dumps(result))


def overhead(traced_detail, untraced_path):
    """Traced / untraced - 1 for each end-to-end time of the same workload and seed."""
    def detail(line):
        return json.loads(line.split(" ", 2)[2])
    t = detail(traced_detail)
    with open(untraced_path) as f:
        u = detail(f.readline())
    return {k: t[k] / u[k] - 1 for k in ("pass_s", "op_p50_s") if t.get(k) and u.get(k)}


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dp_release, registry_lazy, registry_eager (see README.md here).
The first run builds the engine and the benchmark with sbt; later runs reuse
the build while no source file has changed. The benchmark JVM reads the
tables committed under perfbench/data and writes only under
perfbench/target. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "target")
STAMP = os.path.join(WORK, "perfbench.stamp")
CLASSPATH = os.path.join(WORK, "perfbench.classpath")
JAVA_OPTIONS = os.path.join(WORK, "perfbench.javaopts")
WORKLOADS = ("dp_release", "registry_lazy", "registry_eager")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170



def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the engine and the benchmark unless the last build is current,
    and records the run classpath and the root build's JVM options."""
    digest = source_digest()
    if all(os.path.isfile(f) for f in (STAMP, CLASSPATH, JAVA_OPTIONS)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine and benchmark with sbt")
    os.makedirs(WORK, exist_ok=True)
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath", "writeJavaOptions"],
                    cwd=BENCH, env=sbt_env(), timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l and " " not in l]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group, passing its stderr through and
    returning its stdout; the whole group is killed on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{cmd[0]} did not finish in {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited with {p.returncode}")
    return out


def heap_flag():
    """Half of physical memory, between 2 and 8 GiB: the SPARK_DRIVER_MEM rule
    of the test command in ROADMAP.md."""
    gib = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"-Xmx{min(8, max(2, gib))}g"


def steal_s():
    """Seconds the hypervisor ran other guests while this one's CPUs were
    ready, summed over CPUs (Linux); printed beside each run, as a run that
    loses much time to other guests reads slow."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources beside {os.path.relpath(BENCH, ROOT)}: "
            "run from the root of a graft checkout")
        return 2
    try:
        build()
    except (RuntimeError, OSError) as e:
        log(f"build failed: {e}")
        return 3

    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    with open(JAVA_OPTIONS) as fh:
        java_options = [l for l in fh.read().splitlines() if l]
    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    heap = heap_flag()
    cmd = (["java", heap, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] + java_options
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--data", os.path.join(BENCH, "data")])
    print(f"[perfbench] heap {heap}, {os.cpu_count()} cores", flush=True)
    started, steal0 = time.time(), steal_s()
    try:
        out = run_child(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S)
    except (RuntimeError, OSError) as e:
        log(f"run failed: {e}")
        return 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if not lines or not lines[-1].startswith("{"):
        log("the benchmark printed no result")
        return 5
    print("\n".join(lines[:-1] + [f"[perfbench] run took {time.time() - started:.1f} s, "
                                  f"{steal_s() - steal0:.1f} s of CPU stolen by other guests",
                                  lines[-1]]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

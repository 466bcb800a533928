#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources together with the harness (sbt, offline); later runs reuse the
build while no source changed. Every run works in a fresh directory
under perfbench/.work (data, cube root, Spark scratch) and removes it
when it ends. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dashboard", "ingest")
# one run, set-up included, stays inside this many seconds
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: graft's sources and the harness."""
    tops = [os.path.join(root, "src", "main", "scala"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    out = [os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root):
    """The harness classpath, rebuilt when any source changed."""
    fingerprint = digest(source_files(root))
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fingerprint:
            return s["classpath"]
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    t0 = time.time()
    p = subprocess.run(
        [sbt, "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=build_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if ln.startswith("/") and ".jar" in ln), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": cp}, f)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def remove_stale(work_root):
    """Drop the work directories of runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
            continue  # that run is still going
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def commit_of(root):
    src = digest(source_files(root))[:12]
    try:
        rev = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"],
                             cwd=root, capture_output=True, text=True,
                             timeout=10)
        if rev.returncode == 0 and rev.stdout.strip():
            return f"{rev.stdout.strip()}+src:{src}"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"src:{src}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {root}/src/main/scala: run from the "
             "root of a graft checkout", code=2)
    cp = classpath(root)

    work_root = os.path.join(HERE, ".work")
    remove_stale(work_root)
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "data", "cubes"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update(GRAFT_CUBE_ROOT=os.path.join(work, "cubes"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_HOME=spark_home())
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--cores", str(os.cpu_count() or 1), "--commit", commit_of(root)]
    # set-up time counts from the JVM's launch
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isdir(work_root) and not os.listdir(work_root):
        os.rmdir(work_root)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

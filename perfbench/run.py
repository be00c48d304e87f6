#!/usr/bin/env python3
"""End-to-end bitemporal benchmark for graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload point_asof --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles graft and the benchmark (see build.py) into
$CARGO_TARGET_DIR (default .bench_build); later calls reuse the classes
while the sources are unchanged. Each run gets its own temporary directory
under the build directory, deleted afterwards.
The last line of stdout is the result object; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
from build import BENCH_DIR, build, build_dir, fail, spark_jars  # noqa: E402

WORKLOADS = ("point_asof", "ingest_stream")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """Half of physical memory, between 2g and 8g: the Tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{max(2, min(8, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def launch_mark():
    """Epoch ms and the machine's (busy, steal) jiffies, as perfbench.HostClock reads them."""
    busy = steal = 0
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        busy, steal = v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0)
    except (OSError, ValueError, IndexError):
        pass
    return f"{int(time.time() * 1000)},{busy},{steal}"


def git_state(root):
    def git(*args):
        return subprocess.run(["git", "-C", str(root), *args], capture_output=True, text=True, timeout=10)
    try:
        top = git("rev-parse", "--show-toplevel")
        if top.returncode != 0 or Path(top.stdout.strip()).resolve() != Path(root).resolve():
            return "unknown", None
        sha = git("rev-parse", "HEAD").stdout.strip()
        dirty = bool(git("status", "--porcelain", "--", "src", "perfbench").stdout.strip())
        return sha, dirty
    except (OSError, subprocess.TimeoutExpired):
        return "unknown", None


def run_java(cmd, log_path):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, f"run timed out after {RUN_TIMEOUT_S}s"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return out, None if p.returncode == 0 else f"JVM exited with code {p.returncode}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own checks")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = Path.cwd()
    spec = root / "BENCHMARK.json"
    if not a.selftest and not spec.is_file():
        fail(f"no BENCHMARK.json under {root}; run from the root of a graft checkout")
    jars = spark_jars(root)
    out = build_dir(root)
    classes, stamp = build(root, out, jars)

    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = out / "runs" / f"{name}-{os.getpid()}"
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    sha, dirty = git_state(root)
    prov = {"git_sha": sha, "git_dirty": dirty, "source_sha256": stamp, "heap": heap(), "python": sys.version.split()[0]}
    cmd = ["java", f"-Xmx{heap()}", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars])]
    if a.selftest:
        cmd += ["perfbench.SelfTest", "--tmp", str(tmp)]
    else:
        cmd += ["perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--tmp", str(tmp),
                "--result", str(results / f"{name}.json"), "--spec", str(spec), "--provenance", json.dumps(prov),
                "--launch", launch_mark()]
    try:
        out, err = run_java(cmd, tmp / "jvm.log")
        if err:
            sys.stderr.write((tmp / "jvm.log").read_text()[-6000:])
            fail(err)
    finally:
        if (tmp / "jvm.log").exists():
            shutil.copy(tmp / "jvm.log", results / f"{name}.log")
        shutil.rmtree(tmp, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("the run printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

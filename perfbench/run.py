#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source and runs one
measured run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload cells --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke        # every workload once, tiny inputs

Run it from the root of a checkout. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it is
the full record of the run (every iteration, failures, box health).
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
STAMP = BUILD / "sources.sha256"
WORKLOADS = ["cells", "curation"]
RUN_LIMIT_S = 175

# Spark on JDK 17 outside spark-submit needs these (see the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every source's path, size and mtime: a build is reused only
    for the same set of sources, so an added, changed, deleted or renamed
    file triggers a rebuild."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        files += top.rglob("*.scala")
    h = hashlib.sha256()
    for p in sorted(files):
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile the program and the benchmark; cache the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources under src/main/scala; run from the root of a checkout")
    digest = sources_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep the build's scratch files inside the checkout
    opts = f"-Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false -XX:-UsePerfData"
    env = dict(os.environ, SPARK_HOME=spark_home(),
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " " + opts).strip())
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=880)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    CLASSPATH.write_text(lines[-1].strip())
    STAMP.write_text(digest)
    return lines[-1].strip()


def run_once(cp, workload, seed, seconds, trace, smoke=False):
    work = BUILD / "work" / f"{workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--smoke", "1" if smoke else "0",
            "--work", str(work), "--data", str(BENCH / "data"),
            "--expected", str(BENCH / "expected.properties")]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"{workload} exited with {proc.returncode} and no result")
    return lines[-2], json.loads(lines[-1])


def expected_metrics(trace):
    """(name, unit) pairs BENCHMARK.json promises for this trace mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, trace):
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        problems.append(f"metrics differ: missing {missing}, extra {extra}, units {units}")
    if not result["correct"] or result["failed"]:
        problems.append(f"{result['failed']} of {result['attempted']} operations failed")
    return problems


def smoke(cp):
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            record, result = run_once(cp, w, 1, 0, trace, smoke=True)
            problems = validate(result, trace)
            status = "ok" if not problems else "; ".join(problems)
            print(f"smoke {w} trace={trace}: {status}")
            if problems:
                print(record)
                bad += 1
    sys.exit(1 if bad else 0)


def main():
    # a terminated benchmark stops its JVM too (the finally in run_once)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.smoke:
        smoke(cp)
    if not a.workload:
        fail("--workload is required")
    record, result = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    print(record)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build the program with the benchmark and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

The first run in a checkout compiles the program's sources together with
the benchmark (sbt, offline); later runs reuse the build while the sources
are unchanged. Everything the benchmark builds, generates or writes stays
under `.bench_build/` in the checkout. The last line of standard output is
the result JSON. See perfbench/README.md.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("serve", "batch")

# Spark 4 on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked runs).
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


def parse_args(argv):
    args = {"workload": None, "seed": None, "seconds": None, "trace": "0"}
    extra = []
    it = iter(argv)
    for k in it:
        v = next(it, None)
        if v is None or not k.startswith("--"):
            fail(f"bad arguments: {' '.join(argv)}")
        if k[2:] in args:
            args[k[2:]] = v
        else:
            extra += [k, v]
    if args["workload"] not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")
    for k in ("seed", "seconds"):
        if args[k] is None or not args[k].lstrip("-").isdigit():
            fail(f"--{k} must be a whole number")
    if args["trace"] not in ("0", "1"):
        fail("--trace must be 0 or 1")
    return args, extra


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile program and benchmark; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no program sources under {ROOT}: run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    # generated inputs are cached per seed; a changed generator invalidates them
    shutil.rmtree(WORK / "cache", ignore_errors=True)
    cp_file.write_text(cp)
    stamp.write_text(h.hexdigest())
    return cp


def main():
    args, extra = parse_args(sys.argv[1:])
    cp = build()
    tmp = WORK / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp), SPARK_GRAFT_MODEL_DIR=str(tmp / "models"))
    # the heap limit the program's own build gives its runs
    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k in ("workload", "seed", "seconds", "trace"):
        cmd += [f"--{k}", args[k]]
    cmd += extra
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited with code {proc.returncode}")
    if "--record" in extra:
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail("benchmark printed no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

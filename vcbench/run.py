#!/usr/bin/env python3
"""Build the benchmark and run one workload.

    python3 vcbench/run.py --workload <point|batch> --seed <n> \
        --seconds <n> --trace <0|1>

Run from the repository root. The first run compiles the engine from
src/main/scala together with the benchmark (vcbench/src) with sbt; later
runs reuse that build until a source file changes. The last line of
standard output is the result object; the line before it carries the
workload's detailed figures.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
STAMP = TARGET / "vcbench.stamp"
CLASSPATH = TARGET / "vcbench.classpath"
WORK = HERE / "work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit (the list spark-submit
# itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"vcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not ENGINE_SRC.is_dir() or not any(ENGINE_SRC.rglob("*.scala")):
        fail(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}; "
             "run from a checkout of the repository")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    digest = source_digest()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    if "SPARK_HOME" in env:
        spark_home = pathlib.Path(env["SPARK_HOME"])
    else:
        submit = shutil.which("spark-submit") or fail("SPARK_HOME is unset and spark-submit is not on PATH")
        spark_home = pathlib.Path(submit).resolve().parent.parent
    # resolved, so the build's classpath does not depend on a symlink
    env["SPARK_HOME"] = str(spark_home.resolve())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("vcbench: building (sbt compile)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    classpath = lines[-1].strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(classpath)
    STAMP.write_text(digest)
    return classpath


def check_result(line, trace):
    """The result must name exactly the metrics BENCHMARK.json declares."""
    spec_path = ROOT / "BENCHMARK.json"
    result = json.loads(line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    if spec_path.exists():
        spec = json.loads(spec_path.read_text())
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            raise ValueError(f"metrics differ from BENCHMARK.json: "
                             f"missing {sorted(set(want) - set(got))}, "
                             f"extra {sorted(set(got) - set(want))}, "
                             f"units {[k for k in got if k in want and got[k] != want[k]]}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    classpath = build()
    java = shutil.which("java") or fail("java not found on PATH")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # The parallel collector with a pre-sized heap: G1's heap growth and
    # concurrent cycles made repeated runs differ by more than the bounds.
    # No perf-data file in the system temp directory: a run writes only
    # inside the checkout.
    cmd = [java, "-XX:+UseParallelGC", "-Xms2g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'src' / 'main' / 'resources' / 'log4j2.properties'}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "vcbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if not lines:
        fail(f"no result (exit {proc.returncode})")
    try:
        check_result(lines[-1], args.trace == "1")
    except ValueError as e:
        fail(f"malformed result: {e}")
    print(lines[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one workload of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark program from the checkout's sources
(once; the build is reused while no source changes), runs the workload in
one JVM on Spark local[N], relays its report, and prints as the last line the
result object, after checking its metric names and units against
BENCHMARK.json. Tables and Spark scratch live in a temporary directory
under perfbench/out/, removed when the run ends; a traced run leaves its
spans there.

    python3 perfbench/run.py --selftest

runs the program's self-test instead (see SelfTest.scala).
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
STAMP = HERE / "target" / "perfbench-build.json"
# Class-data archive of the program's classpath, written right after each
# build by a JVM that builds and warms every workload. Every run maps it, so
# Spark's classes are not loaded and verified one by one at each start.
CLASS_ARCHIVE = HERE / "target" / "perfbench-classes.jsa"
LIBRARY_SOURCES = ROOT / "src" / "main"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the library's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, and of where it is built."""
    h = hashlib.sha256(str(ROOT).encode())
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (LIBRARY_SOURCES, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", LC_ALL="C.utf8")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the program's runtime classpath, compiling first if needed."""
    digest = source_digest()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("digest") == digest:
            return stamp["classpath"], digest
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "perfbench_2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    classpath = cp[-1].strip()
    CLASS_ARCHIVE.unlink(missing_ok=True)
    code, _, err = run_program(classpath, ["--load-classes", "1", "--out", str(OUT)],
                               [f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"], stderr=subprocess.PIPE)
    if code != 0 or not CLASS_ARCHIVE.is_file():
        sys.stderr.write("\n".join(err.splitlines()[-40:]) + "\n")
        fail(f"writing the class-data archive failed (exit code {code})", 1)
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath, digest


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none"


def run_program(classpath, program_args, archive=None, stderr=None):
    """Runs the program; `archive` are the JVM options that write the class-data archive."""
    archive = archive or [f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"]
    # JVM log lines go to stderr: the program's stdout ends with the result.
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xlog:disable", "-Xlog:all=warning:stderr"] + archive +
           ["-cp", classpath, "perfbench.Main"] + program_args)
    proc = subprocess.Popen(cmd, cwd=HERE, env=dict(os.environ, LC_ALL="C.utf8"),
                            stdout=subprocess.PIPE, stderr=stderr, text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S} s", 1)
    return proc.returncode, out.splitlines(), err or ""


def check_result(result, spec, trace):
    """The result object must carry exactly the metrics BENCHMARK.json lists."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}", 1)
    listed = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, unit {wrong}", 1)
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            fail(f"metric {k} has no value", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec_path = ROOT / "BENCHMARK.json"
    if not LIBRARY_SOURCES.joinpath("scala", "graft").is_dir():
        fail(f"no library sources at {LIBRARY_SOURCES.relative_to(ROOT)}: run from a checkout of the repository")
    spec = json.loads(spec_path.read_text())
    classpath, digest = build()
    if a.selftest:
        code, lines, _ = run_program(classpath, ["--selftest", "1", "--out", str(OUT)])
        print("\n".join(lines))
        sys.exit(code)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; BENCHMARK.json lists {names}")
    code, lines, _ = run_program(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", str(OUT), "--revision", f"{revision()} sources={digest[:12]}"])
    if code != 0 or not lines:
        fail(f"the benchmark JVM exited with {code}", 1)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"the benchmark JVM's last line is not a result: {lines[-1]!r}", 1)
    check_result(result, spec, a.trace == 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft workload benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (the perfbench/ build depends on the library
build one level up); later runs reuse that build while no source file has
changed. One JVM then runs the workload on local[nproc] and prints every
metric by name with its unit; the last line of standard output is the result
as one JSON object. Every file the run writes stays under perfbench/ and is
removed at exit, apart from the build and perfbench/out/ (traces).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# the module openings Spark needs on JDK 17 outside spark-submit (the same
# list as the library's build.sbt)
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", os.path.join("perfbench", "build.sbt")]
    for d in ["project", os.path.join("perfbench", "project")]:
        top = os.path.join(ROOT, d)
        if os.path.isdir(top):
            files += [os.path.join(d, f) for f in sorted(os.listdir(top))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for d in [os.path.join("src", "main"), os.path.join("perfbench", "src")]:
        for base, dirs, names in os.walk(os.path.join(ROOT, d)):
            dirs.sort()
            files += [os.path.relpath(os.path.join(base, n), ROOT) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing the run started outlives it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{cmd[0]} did not finish within {timeout} s", 1)
        raise
    return proc.returncode, out


def build():
    """Compile graft and the harness; return the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp["sources"] == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    # build from the local dependency cache only, as the library's own
    # test command does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (exit {code})")
    lines = [l for l in out.splitlines() if "scala-library" in l and os.pathsep in l]
    if not lines:
        sys.stderr.write(out)
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} is missing); run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    classpath = build()
    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp directory: the run writes only
    # inside the checkout
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--out", os.path.join(BENCH, "out")]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"workload run failed (exit {code})", 1)
    result = json.loads(lines[-1])
    kind = "per_layer" if args.trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.stdout.write(out)
        fail(f"reported metrics differ from BENCHMARK.json {kind}: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"units {sorted(k for k in want if k in got and got[k] != want[k])}", 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()

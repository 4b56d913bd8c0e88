#!/usr/bin/env python3
"""Build and run graft's benchmark for one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine and the benchmark with
sbt (build output goes to .bench_build/build.log); later runs reuse the
build while the sources are unchanged. The last line on stdout is the
result JSON. Everything the benchmark writes stays under .bench_build/.
"""
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
WORK = ROOT / ".bench_build"
MANIFEST = WORK / "manifest.txt"
STAMP = WORK / "build.stamp"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """hash of every input of the build"""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            rel = p.relative_to(ROOT)
            if "target" in rel.parts:
                continue
            h.update(str(rel).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    # keep sbt's own state and temporary files inside the checkout
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + (
        f" -Xmx2g -Dsbt.server.autostart=false -Dsbt.boot.lock=false -Dsbt.global.base={WORK / 'sbt'}"
        f" -Dsbt.ivy.home={WORK / 'ivy'} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = str(tmp)
    return env


def start(cmd, cwd, stdout, env=None):
    """starts cmd in its own process group, so stop() reaches every child"""
    return subprocess.Popen(cmd, cwd=cwd, stdout=stdout,
                            stderr=subprocess.STDOUT if stdout is not subprocess.PIPE else None,
                            env=env, start_new_session=True, text=True)


def stop(proc):
    """kills what is left of proc's process group and waits for proc"""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def build(stamp):
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    WORK.mkdir(exist_ok=True)
    MANIFEST.unlink(missing_ok=True)
    with open(WORK / "build.log", "w") as log:
        proc = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchManifest"],
                     BENCH, log, sbt_env())
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop(proc)
    if code != 0 or not MANIFEST.is_file():
        die(f"build failed (exit {code}); see {WORK / 'build.log'}")
    STAMP.write_text(stamp)


def main(argv):
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala)")
    if not (BENCH / "build.sbt").is_file():
        die("run from the checkout root: perfbench/build.sbt not found")
    if shutil.which("java") is None:
        die("java is not on PATH")
    stamp = source_stamp()
    if not MANIFEST.is_file() or not STAMP.is_file() or STAMP.read_text() != stamp:
        build(stamp)
    cp, opts = [], []
    for line in MANIFEST.read_text().splitlines():
        kind, _, value = line.partition(" ")
        (cp if kind == "cp" else opts).append(value)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed heap of 1 GB: peak_heap_mb is read right after collections.
    # With a heap that could grow to 3 GB, G1 resized it within each run
    # and the curation peak read about 505 MB in most runs but 565 to
    # 645 MB in others; with this fixed heap it stays within 206 to 288 MB.
    # The heap still live after a full collection is 110 to 290 MB.
    cmd = (["java"] + opts + ["-Xms1g", "-Xmx1g", "-XX:-UsePerfData",
                              f"-Djava.io.tmpdir={tmp}",
                              "-cp", os.pathsep.join(cp),
                              "graftbench.Main", "--home", str(ROOT)] + argv)
    proc = start(cmd, ROOT, subprocess.PIPE)
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        timed_out = not timer.is_alive()
        timer.cancel()
        stop(proc)
    if timed_out:
        die("run timed out", 3)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

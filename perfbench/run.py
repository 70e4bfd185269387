#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the checkout root):
  python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the program and the harness with sbt when their sources changed
(perfbench/target/stamp), launches one JVM for the run, and prints the
run's result as the last line of standard output: one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The run record (host
noise, warm-up length, per-layer ledger) goes to standard error and to
perfbench/target/out/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORKLOADS = ("dashboard", "batch")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = TARGET / "stamp"
    cp_file = TARGET / "classpath.txt"
    if (stamp_file.exists() and cp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # the image's offline sbt settings (the program's own verify recipe),
    # plus a build-local temp dir
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Djava.io.tmpdir=" + str(tmp)]).strip()
    with open(TARGET / "build.log", "w") as log:
        print("perfbench: building (log in perfbench/target/build.log)",
              file=sys.stderr)
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"],
                         HERE, env, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed (exit {code}); see perfbench/target/build.log")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_child(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1,
                    help="workload seed (default 1; 2 is the held-out seed)")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "expect"), default="run",
                    help="expect: answer the whole grid and every batch job "
                         "once and dump the answers (see crosscheck.py)")
    a = ap.parse_args()
    if a.mode == "run" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {WORKLOADS}")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("program sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    cp = build()
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out = TARGET / "out" / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    if out.exists():
        out.unlink()
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    # JVM defaults as the program runs: the tiered JIT, and a heap that
    # starts at the default size (no -Xms) and may grow to 3 GB.
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + str(tmp),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--mode", a.mode, "--work", str(TARGET / "work"),
              "--out", str(out), "--expected", str(HERE / "expected")])
    code = run_child(cmd, ROOT, env, sys.stderr,
                     RUN_TIMEOUT_S if a.mode == "run" else BUILD_TIMEOUT_S)
    if code != 0 or not out.exists():
        fail(f"benchmark JVM failed (exit {code})")
    res = json.loads(out.read_text())
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "notes": res.pop("notes", {})}), file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one perfbench measurement from the root of a graft checkout.

    python3 perfbench/run.py --workload harmonize --seed 1 --seconds 15 --trace 0

Builds the benchmark with sbt when its sources changed (the library's
sources under src/main plus perfbench's own), then runs one workload in
one JVM: set-up, a warm-up pass, and measured passes for --seconds.
Everything it writes goes under .bench_build/ in the checkout; the
per-run artifact (context, every pass, the layer table) lands in
.bench_build/results/. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("harmonize", "curate", "ingest")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    """Every file the benchmark's classpath is built from."""
    trees = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in trees:
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The compiled classpath, rebuilt only when a source changed."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().strip().splitlines()
    if done.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        raise SystemExit(f"perfbench: build failed, see {log}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")

    cp = classpath()
    nproc = len(os.sched_getaffinity(0))
    tmp = BUILD / "tmp"
    work = BUILD / "work"
    tmp.mkdir(parents=True, exist_ok=True)
    out = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", str(work), "--out", str(out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    log = BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    # a terminated run stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        sys.stdout.write("".join(l + "\n" for l in lines))
        sys.stderr.write("".join(l for l in open(log).readlines()[-30:]))
        raise SystemExit(f"perfbench: run failed (exit {proc.returncode}), see {log}")
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

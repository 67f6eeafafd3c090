#!/usr/bin/env python3
"""Run one benchmark run from the root of a graft checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source on first use (sbt, offline)
and records a class-data-sharing archive of the classes the workloads
load, then launches one JVM for the run. The last stdout line is the
result JSON. Build outputs, the archive, run records, span dumps and the
run's temp root all stay under `.bench_build/`, `target/` and
`perfbench/target/` in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

WORKLOADS = ["medallion_backfill", "medallion_incremental", "curation_shards",
             "retrieval_mixed", "stream_curation"]
BUILD_TIMEOUT_S = 480
ARCHIVE_TIMEOUT_S = 360
RUN_TIMEOUT_S = 170
# A fixed-size heap (not pre-touched): the collector's sizing, and so when
# it clears softly reachable caches, does not vary run to run. A run is
# one short JVM: the C1 compiler alone reaches its final code within the
# warm-up, where C2 would still be recompiling hot paths during the timed
# ops.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [root / "build.sbt", root / "project" / "build.properties",
              root / "perfbench" / "build.sbt",
              root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main", root / "perfbench" / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def java_cmd(launch, tmp, archive_flag):
    """The JVM command line up to the main class."""
    opts = [o for o in (launch / "jvm_options.txt").read_text().split("\n")
            if o and not o.startswith(("-Xmx", "-Xms"))]
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    return [str(java), *JVM_FLAGS, archive_flag, f"-Djava.io.tmpdir={tmp}", *opts,
            "-cp", (launch / "classpath.txt").read_text().strip(), "perfbench.Main"]


def fresh_tmp(out):
    tmp = out / "tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return tmp


def build(root, out):
    """Compile graft and the benchmark, write the launch classpath, and
    record the class-data-sharing archive: one JVM runs every workload
    briefly and dumps the classes it loaded, so a run's JVM maps them
    instead of loading each from the jars."""
    stamp = sources_stamp(root)
    stamp_file = out / "build.stamp"
    launch = root / "perfbench" / "target" / "launch"
    archive = out / "classes.jsa"
    if (stamp_file.exists() and stamp_file.read_text() == stamp
            and (launch / "classpath.txt").exists() and archive.exists()):
        return launch, archive
    stamp_file.unlink(missing_ok=True)
    archive.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building graft and the benchmark", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=root / "perfbench", env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed", r.returncode)
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    tmp = fresh_tmp(out)
    try:
        r = subprocess.run(java_cmd(launch, tmp, f"-XX:ArchiveClassesAtExit={archive}") +
                           ["--archive-pass", "1", "--tmp", str(tmp)],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=ARCHIVE_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not archive.exists():
        fail("archive pass failed", r.returncode or 1)
    stamp_file.write_text(stamp)
    return launch, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not (root / need).exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    out = root / ".bench_build" / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    launch, archive = build(root, out)

    tmp = fresh_tmp(out)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = java_cmd(launch, tmp, f"-XX:SharedArchiveFile={archive}") + [
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--tmp", str(tmp),
           "--record", str(out / "records" / f"{tag}.json"),
           "--spans", str(out / "spans" / f"{tag}.jsonl")]
    try:
        r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {r.returncode})", r.returncode or 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()

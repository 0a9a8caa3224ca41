#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload cron_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

The first call in a checkout builds the harness together with the program's
sources (sbt, offline) into the checkout; later calls reuse that build while
the sources are unchanged. All run state (stores, staged batches, generated
tables, traces, Spark scratch) lives under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) inside the checkout.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; everything else goes to
standard error.
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
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORKLOADS = ["cron_cycle", "training_queries"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not d.is_absolute():
        d = ROOT / d
    if d.resolve() != ROOT and ROOT not in d.resolve().parents:
        fail(f"build directory {d} is outside the checkout")
    return d


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH_DIR / "src" / "main"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Run a process group; on timeout kill the whole group and wait."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def java_cmd(heap):
    cmd = ["java", f"-Xmx{heap}m", "-XX:+UseG1GC",
           "-XX:+UnlockDiagnosticVMOptions",
           "-XX:GCLockerRetryAllocationCount=100",
           # JVM warnings (e.g. an unusable class archive) go to stderr:
           # stdout carries only the result line
           "-Xlog:all=warning:stderr"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def archive_classes(cp, bdir):
    """Archive the classes a run loads (JVM class-data sharing), so every
    run's JVM and session start in about a third of the time. A failed
    dump only costs that speed: runs then start without the archive."""
    jsa = bdir / "classes.jsa"
    train = bdir / "classtrain"
    if train.exists():
        shutil.rmtree(train)
    (train / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    cmd = java_cmd(1024) + [f"-XX:ArchiveClassesAtExit={jsa}",
                            f"-Djava.io.tmpdir={train / 'tmp'}",
                            f"-Dspark.local.dir={train / 'tmp'}",
                            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                            "-cp", cp, "perfbench.ClassTrain", str(train)]
    with open(bdir / "classtrain.log", "wb") as tlog:
        code, _ = run_bounded(cmd, ROOT, env, BUILD_TIMEOUT_S, tlog, tlog)
    shutil.rmtree(train)
    if code != 0 or not jsa.is_file():
        log(f"class archive not made (exit {code}); runs start without it")
        if jsa.exists():
            jsa.unlink()


def ensure_build(bdir):
    """Compile once per source stamp; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = bdir / "classpath.txt"
    stamp_file = bdir / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; cannot build the benchmark")
    bdir.mkdir(parents=True, exist_ok=True)
    for stale in (stamp_file, bdir / "classes.jsa"):
        if stale.exists():
            stale.unlink()
    log("building harness + program sources (sbt, offline) ...")
    t0 = time.time()
    with open(bdir / "build.log", "wb") as blog:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime / fullClasspath"],
            BENCH_DIR, sbt_env(), BUILD_TIMEOUT_S, subprocess.PIPE, blog)
    if code is None:
        fail("build timed out", 3)
    text = out.decode("utf-8", "replace")
    (bdir / "build.out").write_text(text)
    if code != 0:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (exit {code}); see {bdir / 'build.log'}", 3)
    lines = [l.strip() for l in text.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and "perfbench" in l), None)
    if cp is None:
        fail("could not read the runtime classpath from sbt", 3)
    cp_file.write_text(cp)
    archive_classes(cp, bdir)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


def heap_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) // 1024
                    return max(1536, min(3072, total // 4))
    except OSError:
        pass
    return 2048


def run_workload(cp, bdir, workload, seed, seconds, trace, record=False):
    work = bdir / "work" / workload
    if work.exists():
        shutil.rmtree(work)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cpus = str(os.cpu_count() or 4)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = cpus
    env.pop("GRAFT_LOG_DIR", None)
    cmd = java_cmd(heap_mb())
    jsa = bdir / "classes.jsa"
    if jsa.is_file():
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work), "--cpus", cpus,
            "--fingerprints", str(BENCH_DIR / "fingerprints.tsv"),
            "--record", "1" if record else "0"]
    code, out = run_bounded(cmd, ROOT, env, RUN_TIMEOUT_S,
                            subprocess.PIPE, None)
    if code is None:
        fail(f"{workload}: run exceeded {RUN_TIMEOUT_S}s and was killed", 4)
    if code != 0:
        fail(f"{workload}: harness exited with {code}", 4)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"{workload}: no result line on stdout", 4)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: malformed result line", 4)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="rewrite perfbench/fingerprints.tsv from this run "
                         "(training_queries) instead of checking against it")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"program sources not found under {ROOT / 'src'}; "
             "run from a full checkout of the repository")
    bdir = build_dir()
    cp = ensure_build(bdir)

    if args.workload != "all":
        result = run_workload(cp, bdir, args.workload, args.seed,
                              args.seconds, args.trace,
                              args.record_fingerprints)
        print(json.dumps(result), flush=True)
        return
    results = {}
    for w in WORKLOADS:
        results[w] = run_workload(cp, bdir, w, args.seed, args.seconds,
                                  args.trace)
    names = sorted({m for r in results.values() for m in r["metrics"]})
    print(f"{'metric':<36}" + "".join(f"{w:>18}" for w in WORKLOADS))
    for m in names:
        unit = next(r["metrics"][m]["unit"] for r in results.values()
                    if m in r["metrics"])
        def cell(w):
            v = results[w]["metrics"].get(m, {}).get("value")
            return f"{v:>18.6g}" if v is not None else f"{'-':>18}"
        row = "".join(cell(w) for w in WORKLOADS)
        print(f"{m + ' [' + unit + ']':<36}{row}")
    for w in WORKLOADS:
        r = results[w]
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}")
    summary = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{m}": v for w, r in results.items()
                    for m, v in r["metrics"].items()},
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (``perfbench/harness`` depends on the root
build); later runs reuse the build while the sources are unchanged.

Each run works in a fresh directory under ``.bench_run/`` that holds the
generated fixture, every store root, Spark's local dirs, checkpoints,
warehouse and Derby home, and is deleted at exit. What a run leaves is
its record under ``.bench_out/`` (result, provenance and, when traced,
spans) and the oracle hashes cached per fixture under ``.bench_cache/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("cdc_stream", "curate")
HEAP = "3g"
# G1 with a fixed young generation and a concurrent cycle as soon as the old
# generation passes 5% of the heap, so that the heap left after a collection
# stays close to the live data and collections come often enough to see
# what a call holds while it runs (peak_heap_mb).
GC_OPTS = ["-Xmn512m", "-XX:-G1UseAdaptiveIHOP",
           "-XX:InitiatingHeapOccupancyPercent=5", "-XX:G1HeapWastePercent=1"]
RUN_LIMIT_S = 175     # a run must end within 180 s of the build
CHECK_RESERVE_S = 50  # what the harness keeps for its checks and run.py for the oracle
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_hash):
    """Compile program + harness once per source hash; return the classpath."""
    bdir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, "classpath.json")
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(stamp):
            with open(stamp) as fh:
                got = json.load(fh)
            if got.get("hash") == src_hash:
                return got["classpath"]
        log = os.path.join(bdir, "build.log")
        with open(log, "w") as out:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export harness/Runtime/fullClasspath"],
                cwd=os.path.join(HERE, "harness"), env=sbt_env(),
                stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=out, text=True, timeout=850)
            out.write(proc.stdout)
        if proc.returncode != 0:
            fail(f"build failed (exit {proc.returncode}); see {log}")
        lines = [ln.strip() for ln in proc.stdout.splitlines()
                 if ln.strip() and not ln.startswith("[")]
        if not lines:
            fail(f"build printed no classpath; see {log}")
        with open(stamp, "w") as fh:
            json.dump({"hash": src_hash, "classpath": lines[-1]}, fh)
        return lines[-1]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def steal_s():
    """Host CPU time stolen from this machine so far (0 when unknown)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(args, classpath, work, fixture, out, spans, cores, limit_s):
    env = dict(os.environ)
    for var, sub in (("SPARK_GRAFT_SIG_STORE", "sig"),
                     ("SPARK_GRAFT_PQ_STORE", "pq"),
                     ("SPARK_GRAFT_CDC_STORE", "cdc")):
        env[var] = os.path.join(work, "stores", sub)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("tmp", "derby", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += GC_OPTS + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--fixture", fixture, "--work", work,
            "--out", out, "--spans", spans, "--deadline-ms",
            str(int((time.time() + limit_s - CHECK_RESERVE_S) * 1000))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"harness {'timed out' if code is None else f'exited {code}'}:\n{tail}", 1)


def result_line(bench, res, checks, trace):
    """The contract line: metrics of BENCHMARK.json with their units."""
    specs = bench["per_layer"] if trace else bench["end_to_end"]
    failed = res["failed_units"] + checks["failed_units"]
    metrics, correct = {}, checks["ok"] and failed == 0
    for spec in specs:
        v = res["metrics"].get(spec["name"], 0.0 if trace else None)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            correct, v = False, None
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
    return {"correct": correct, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    t_start = time.monotonic()
    if not program_present():
        fail(f"no program sources (build.sbt, src/main/scala) under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    src_hash = source_hash()
    classpath = build(src_hash)
    t_built = time.monotonic()
    steal0 = steal_s()

    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(ROOT, ".bench_run")
    os.makedirs(run_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=run_root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        fixture = os.path.join(work, "fixture")
        os.makedirs(fixture)
        if args.workload == "curate":
            gen.write_curate(args.seed, fixture)
        else:
            gen.write_cdc(args.seed, fixture)
        fx_hash = gen.fixture_hash(fixture)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        spans = os.path.join(out_dir, f"{stem}-spans.json")
        res_path = os.path.join(work, "result.json")
        limit = RUN_LIMIT_S - (time.monotonic() - t_built) - 10
        run_jvm(args, classpath, work, fixture, res_path, spans, cores, limit)
        with open(res_path) as fh:
            res = json.load(fh)
        checks = oracle.check(res, fixture, fx_hash,
                              os.path.join(ROOT, ".bench_cache", "oracle"))
        line = result_line(bench, res, checks, args.trace == 1)
        provenance = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "fixture_hash": fx_hash, "git_commit": git_commit(),
            "source_hash": src_hash, "nproc": cores,
            "heap_limit_mb": round(res["heap_max_mb"]),
            "warm_passes": res["extra"].get("warm_passes"),
            "steal_s": round(steal_s() - steal0, 2)}
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
            json.dump({"provenance": provenance, "result": line,
                       "harness": res, "checks": checks}, fh, indent=1)
        attempted = max(1, line["attempted"])
        summary = {k: v for k, v in res["untraced"].items()}
        summary.update(res["extra"])
        summary["error_rate"] = line["failed"] / attempted
        print(json.dumps({"provenance": provenance}))
        print(f"{args.workload} seed={args.seed}: " + " ".join(
            f"{k}={v:.4g}" for k, v in sorted(summary.items())
            if isinstance(v, (int, float))) +
            f" correct={str(line['correct']).lower()}"
            + "".join(f"\n  check: {m}" for m in checks["messages"]))
        print(json.dumps(line))
        return 0 if line["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

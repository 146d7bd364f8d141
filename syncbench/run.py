#!/usr/bin/env python3
"""Sync-pipeline benchmark runner.

Run from the root of a checkout:

    python3 syncbench/run.py --workload full_sync --seed 1 --seconds 20 --trace 0
    python3 syncbench/run.py --selftest

Builds the benchmark with sbt when its sources or the library's changed
(outputs go to .bench_build/), then runs one workload in a fresh JVM. The JVM
prints a report whose last line is the JSON result; this script passes it
through and keeps a copy in .bench_build/results/, named by workload, seed,
cpus and trace mode, for syncbench/compare.py.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("full_sync", "incremental_sync", "stream_catchup")
HEAP = "2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# input size factor of the self-test; measured runs always use full size
SELFTEST_SCALE = 0.05


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties", ROOT / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + [ROOT / "project" / "build.properties"]
    for src in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if it
    overruns or leaves children behind."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def ensure_build():
    stamp, launch = BUILD / "fingerprint", BUILD / "launch.txt"
    fp = fingerprint()
    if launch.is_file() and stamp.is_file() and stamp.read_text() == fp:
        return
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "logs" / "build.log"
    print("syncbench: building (sbt writeLaunch) ...", file=sys.stderr, flush=True)
    t = time.time()
    with open(log, "w") as f:
        try:
            code, _ = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                                 "-Dsbt.log.noformat=true", "writeLaunch"],
                                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not launch.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"syncbench: build failed ({code}); log in {log}")
    stamp.write_text(fp)
    print(f"syncbench: built in {time.time() - t:.0f} s", file=sys.stderr, flush=True)


def java_cmd():
    home = os.environ.get("JAVA_HOME")
    java = str(Path(home) / "bin" / "java") if home and (Path(home) / "bin" / "java").is_file() else "java"
    opts = (BUILD / "launch.txt").read_text().splitlines()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the last -Xmx wins over the library build's default
    return [java] + opts + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "syncbench.Main"]


def jvm(args, tag, timeout=RUN_TIMEOUT_S):
    """Runs the benchmark JVM; returns (exit code, stdout). Its stderr (Spark's
    log) goes to .bench_build/logs/<tag>.log."""
    work = BUILD / "work" / f"{tag}-p{os.getpid()}"
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / f"{tag}.log"
    # glibc gives busy threads their own malloc arenas of up to 64 MB each;
    # how many got one moved peak_rss_mb by up to a third between runs of the
    # same inputs, so the JVM runs with two
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    try:
        with open(log, "w") as f:
            code, out = run_group(java_cmd() + list(args) + ["--work", str(work)], timeout,
                                  cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=f,
                                  stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"syncbench: run exceeded {timeout} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
    return code, out


def result_path(workload, seed, trace):
    d = BUILD / "results"
    d.mkdir(parents=True, exist_ok=True)
    base = f"{workload}_s{seed}_c{cpus()}_t{trace}"
    p, n = d / f"{base}.json", 1
    while p.exists():
        n += 1
        p = d / f"{base}_{n}.json"
    return p


def measure(a):
    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    out_path = result_path(a.workload, a.seed, a.trace)
    if a.trace:
        args += ["--spans", str(out_path.with_suffix(".spans.jsonl"))]
    code, out = jvm(args, tag)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        sys.exit(f"syncbench: no result from the benchmark JVM (exit {code})")
    record = {"workload": a.workload, "seed": a.seed, "cpus": cpus(), "trace": a.trace,
              "seconds": a.seconds, "result": result}
    out_path.write_text(json.dumps(record, indent=1) + "\n")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(f"  result file: {out_path.relative_to(ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


def selftest():
    """Oracle self-test in one JVM, then every workload in both trace modes
    at a small size, checking the printed metric names against BENCHMARK.json."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    size = ["--scale", str(SELFTEST_SCALE)]
    code, out = jvm(["--selftest", "--seed", "7"] + size, "selftest")
    sys.stdout.write(out)
    bad = [] if code == 0 else ["oracle self-test"]
    for w in WORKLOADS:
        for trace in (0, 1):
            c, out = jvm(["--workload", w, "--seed", "3", "--seconds", "1", "--trace", str(trace)] + size,
                         f"selftest_{w}_t{trace}")
            try:
                r = json.loads(out.rstrip("\n").splitlines()[-1])
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                ok = (c == 0 and r["correct"] and r["attempted"] >= 1 and got == want[trace])
                why = "" if ok else f" (exit {c}, correct {r['correct']}, " \
                    f"missing {sorted(set(want[trace]) - set(got))}, extra {sorted(set(got) - set(want[trace]))})"
            except (IndexError, ValueError, KeyError) as e:
                ok, why = False, f" (no result: {e})"
            print(f"  {'ok  ' if ok else 'FAIL'}  {w} --trace {trace}: metric names and units{why}")
            if not ok:
                bad.append(f"{w} trace {trace}")
    print("self-test passed" if not bad else f"self-test failed: {', '.join(bad)}")
    return 0 if not bad else 1


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true", help="small-size check of every workload")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    missing = [x for x in ("build.sbt", "src/main/scala/graft") if not (ROOT / x).exists()]
    if missing:
        sys.exit(f"syncbench: {', '.join(missing)} not found under {ROOT}: "
                 "run from a checkout of the library")
    ensure_build()
    return selftest() if a.selftest else measure(a)


if __name__ == "__main__":
    sys.exit(main())

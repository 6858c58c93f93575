#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload nca_ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the program with the benchmark (perfbench/build.py), then runs one
workload in a fresh JVM inside a private temporary directory under
.bench_build/tmp, which is deleted at exit. Human-readable metric lines
go to stdout first; the last stdout line is the JSON result. The JVM's
log goes to .bench_build/logs.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
import build  # noqa: E402

WORKLOADS = ["nca_ingest", "nca_refresh", "ann_search", "corpus_curate"]
RUN_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: seconds-long inputs for checking the benchmark itself")
    ap.add_argument("--break", dest="broken", metavar="GATE",
                    help="perturb GATE's expectation (negative test: the gate must trip)")
    ap.add_argument("--selftest", action="store_true",
                    help="tiny run of every workload plus one tripped run per gate")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    return a


def on_term(signum, _frame):
    # unwinds through the finally blocks below, which stop the JVM (and
    # subprocess.run stops a running compiler the same way)
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    a = parse()
    cp = build.build()
    for d in ("tmp", "logs", "results"):
        os.makedirs(os.path.join(build.BUILD_DIR, d), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build.BUILD_DIR, "tmp"))
    name = "selftest" if a.selftest else a.workload
    log_path = os.path.join(build.BUILD_DIR, "logs", f"{name}-seed{a.seed}-trace{a.trace}.log")
    jtmp = os.path.join(tmp, "java-tmp")
    os.makedirs(jtmp)
    cmd = ["java", "-Xmx1g", "-Xss8m", f"-Djava.io.tmpdir={jtmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", name,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--size", a.size, "--tmp", tmp,
            "--results", os.path.join(build.BUILD_DIR, "results")]
    if a.broken:
        cmd += ["--break", a.broken]

    result = None
    proc = None
    rc = 1
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=log, text=True)
            timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
            timer.start()
            try:
                for line in proc.stdout:
                    if line.startswith('{"correct"'):
                        result = line.strip()
                    else:
                        sys.stdout.write(line)
                        sys.stdout.flush()
                rc = proc.wait()
            finally:
                timer.cancel()
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)

    if rc != 0 and result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stderr.write(f"perfbench: {name} failed (exit {rc}); log: {log_path}\n")
        return rc if rc > 0 else 1
    if result is not None:
        print(result)
    return rc


if __name__ == "__main__":
    sys.exit(main())

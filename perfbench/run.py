"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload <build|serve|ingest_live|ops_suite>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and harness from source (perfbench/build.py), runs the
workload in one JVM with Spark at local[nproc], and prints the harness's
record line followed by the result line
{"correct", "attempted", "failed", "metrics"} as the last line of stdout.
Exits non-zero, printing no result, when the build or the run fails.
With --trace 1 the spans are written to .bench_build/traces/.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("build", "serve", "ingest_live", "ops_suite")
TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (same list as the
# library's build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def jvm(cp, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(cp), main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {main} stopped")

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: run from the repository root (no src/main/scala here)")

    work = root / build.OUT / "work" / str(os.getpid())
    try:
        if a.selftest:
            cp = build.build(root, tests=True)
            code, out = jvm(cp, "perfbench.GenTest", [], work)
            sys.stdout.write(out)
            sys.exit(code)
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        cp = build.build(root)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work / "data")]
        if a.trace:
            args += ["--trace-out", str(root / build.OUT / "traces" / f"{a.workload}-seed{a.seed}.jsonl")]
        code, out = jvm(cp, "perfbench.Main", args, work)
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if code != 0 or len(lines) < 2:
            raise SystemExit(f"perfbench: {a.workload} failed (exit {code})")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            raise SystemExit("perfbench: malformed result line")
        print(lines[-2])
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

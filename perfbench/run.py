"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM at local[nproc], and prints as its last stdout line
one JSON object with `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Every file it writes stays under .bench_build/ in the checkout; the
run's scratch directory is removed on exit, and the full report (workload
descriptor, per-span table, job call sites) is kept in
.bench_build/reports/. See perfbench/NOTES.md for what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("bulk_extract", "incremental_ingest")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# the module opens Spark needs on JDK 17 outside spark-submit (the same
# list graft's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    root = Path(__file__).resolve().parent.parent
    classes = build.build(root)
    jars = build.spark_jars()
    out_root = root / ".bench_build"
    work = out_root / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    reports = out_root / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    report = reports / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    opens = [x for pkg in ADD_OPENS for x in ("--add-opens", f"{pkg}=ALL-UNNAMED")]
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           *opens, "-cp", f"{classes}{os.pathsep}{jars / '*'}", "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--report", str(report)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=work, start_new_session=True, text=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: take it down before leaving
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {a.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: malformed result line: {lines[-1]}", file=sys.stderr)
        return 1
    for ln in lines:
        print(ln)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

    python3 perfbench/run.py --record-expect   # rewrite curation_expected.tsv
    python3 perfbench/run.py --probe           # print the contention probes

Builds graft and the benchmark from source on first use (see build.py),
then starts one JVM running `graftbench.Main` against local[N] Spark
(N = $SPARK_GRAFT_CPUS, else the processor count). Every file the run
writes stays under .bench_build/ in the checkout, and the run's store
root is deleted when it ends. With --trace 1 the per-layer metrics are
reported and the spans are written to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("keyed_store", "curation")
# per JVM run, after any build (a first run also compiles, ~30 s)
TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


BENCH = os.path.join(build.ROOT, ".bench_build")
EXPECT = os.path.join(build.ROOT, "perfbench", "curation_expected.tsv")


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    return p.parse_args()


def jvm(cp, work, args, timeout):
    """Run graftbench.Main in its own process group; return (exit code, stdout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("benchmark run timed out", file=sys.stderr)
        return 3, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def stop(signum, frame):
    # unwinds through jvm()'s finally, which kills the JVM's process group
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    mode = sys.argv[1] if sys.argv[1:] in (["--record-expect"], ["--probe"]) else None
    a = None if mode else parse()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if mode:
        work = os.path.join(BENCH, "runs", f"{mode[2:]}-{os.getpid()}")
        code, out = jvm(cp, work, [mode, EXPECT if mode == "--record-expect" else os.path.join(work, "store")],
                        TIMEOUT_S)
        sys.stdout.write(out)
        return code
    work = os.path.join(BENCH, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    code, out = jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                               "--expect", EXPECT,
                               "--trace-out", os.path.join(BENCH, "traces", f"{a.workload}-{a.seed}.jsonl")],
                    TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        print(f"benchmark run failed (exit {code})", file=sys.stderr)
        return 1
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdr_stream --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark if needed (see build.py), runs the
workload in one JVM, checks the program's outputs, and prints every metric
by name and unit, host evidence, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones of a traced run (its
end-to-end figures are printed above the last line, for the tracing
overhead). Exits non-zero, without a result line, if anything fails to run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdr_stream", "batch_catalog")
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected_hashes.tsv")
# A run must end within 180 s; the JVM gets what the build left of that.
RUN_LIMIT_S = 170
# A fixed heap (initial = maximum) keeps the JVM from resizing it run by
# run, which would make peak RSS wander.
JVM_HEAP = "2g"


def cpu_times():
    """(idle, steal, total) jiffies from /proc/stat; idle includes iowait,
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[3] + v[4], v[7], sum(v)


def load1():
    return os.getloadavg()[0]


def host_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, log_path, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + build.java_opts(JVM_HEAP) +
           [f"-Xms{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Main", "run", args.workload,
            str(args.seed), str(args.seconds), str(args.trace),
            str(args.cores), work, DATA, EXPECTED,
            str(int(time.time() * 1000))])
    # Spark's scratch space stays in the work dir even where the
    # environment points it elsewhere.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             text=True, cwd=build.ROOT, env=env)

        def stop(*_):
            p.kill()
            p.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM did not finish in time; log {log_path}")
    if p.returncode != 0:
        raise RuntimeError(f"JVM exited {p.returncode}; log {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        raise RuntimeError(f"JVM printed no result; log {log_path}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=max(1, host_cpus() - 1),
                    help="Spark local[N] task slots; default all CPUs but "
                    "one, which is left to the driver, JIT and GC threads")
    args = ap.parse_args()

    t_start = time.time()
    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    # The first run in a checkout may spend most of its time building.
    deadline = time.time() + RUN_LIMIT_S
    for p in (DATA, EXPECTED):
        if not os.path.exists(p):
            print(f"perfbench: missing {p}", file=sys.stderr)
            return 2

    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # Flush what earlier processes left to write back, so that this run
    # does not pay for it; the end of the run flushes its own.
    os.sync()
    load_start, stat_start = load1(), cpu_times()
    try:
        res = run_jvm(args, work,
                      os.path.join(logs, f"{args.workload}-{args.seed}.log"),
                      deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
    end = cpu_times()
    total = max(1, end[2] - stat_start[2])
    idle_frac = (end[0] - stat_start[0]) / total
    steal_frac = (end[1] - stat_start[1]) / total

    mode = "traced" if args.trace else "untraced"
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds} {mode} wall={time.time() - t_start:.1f}s")
    print(f"host: nproc={host_cpus()} cores={args.cores} load1_start={load_start:.2f} "
          f"load1_end={load1():.2f} cpu_idle_frac={idle_frac:.3f} "
          f"cpu_steal_frac={steal_frac:.3f}")
    for section in ("e2e", "summary", "layers"):
        if section == "layers" and not args.trace:
            continue
        label = "end-to-end" + (" (traced)" if args.trace else "") \
            if section == "e2e" else section
        for name, m in res[section].items():
            print(f"{label}: {name} = {m['value']} {m['unit']}")
    for f in res["failures"]:
        print(f"FAILED: {f}")
    metrics = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

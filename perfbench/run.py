"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --rates R1,R2,... --p99-limit-ms L \
        --workload {stream_replay,batch_sql,llm_ops} --seed N \
        --seconds S --trace {0,1} [--cores C]

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, builds the
engine's Spark session on ``local[C]`` (default: every CPU this process
may use), runs the workload, checks its outputs against the registry's
DuckDB oracles, deletes its working directory and prints detail lines
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics,
from spans around the calls into the engine and the Spark event log.
README.md in this directory defines every metric per workload.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, as far as setup_s is concerned

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_replay", "batch_sql", "llm_ops")
# The whole run, set-up included, must end well inside three minutes.
DEADLINE_S = 170
HEAP = "2g"


class RunTimeout(Exception):
    pass


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--rates", required=True,
                   help="stream_replay rate ladder, events per second, ascending")
    p.add_argument("--p99-limit-ms", required=True, type=float,
                   help="stream_replay p99 event-latency limit of a sustained step")
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = p.parse_args(argv)
    args.rates = [float(r) for r in args.rates.split(",")]
    if len(args.rates) < 3 or args.rates != sorted(args.rates):
        p.error("--rates needs at least three ascending rates")
    return args


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runtime:
    """The run's working directory and Spark session. Everything the
    engine, Spark and DuckDB write goes under ``work``; ``close`` stops
    the session, waits for the JVM to exit and deletes ``work``."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_log = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.event_log):
            os.makedirs(d)
        # Temp files of this process, the JVM and the Python workers.
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        # no hsperfdata files under /tmp from the JVMs this run starts
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        self.spark = None
        self.jvm = None

    def start_spark(self, tracer=None):
        from table_demo_spark import scratch
        from table_demo_spark.session import get_spark

        # The engine places sink and checkpoint scratch dirs on /dev/shm;
        # the benchmark keeps them inside the checkout.
        scratch.scratch_root = lambda: self.tmp
        conf = {
            # A fixed, pre-touched heap: the JVM's resident size no
            # longer depends on when G1 chose to grow the heap, so
            # peak_rss_mb measures what the run adds beyond it.
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": self.tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if tracer is not None:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        master = f"local[{self.args.cores}]"
        if tracer is not None:
            with tracer.span("session.start"):
                self.spark = get_spark("perfbench", master=master, shuffle_partitions=self.args.cores, extra_conf=conf)
            tracer.sc = self.spark.sparkContext
        else:
            self.spark = get_spark("perfbench", master=master, shuffle_partitions=self.args.cores, extra_conf=conf)
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        return self.spark

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return py + (_vm_hwm_mb(self.jvm.pid) if self.jvm else 0.0)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.jvm is not None:
            workers = _descendants(self.jvm.pid)
            # the JVM exits when its stdin closes
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            self.jvm = None
            # its Python workers exit on their own once it is gone
            deadline = time.time() + 10
            while any(_alive(p) for p in workers) and time.time() < deadline:
                time.sleep(0.05)
            for p in workers:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def _describe(args, load_start) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "cpus": os.cpu_count(),
        "git": _git_sha(),
        "rates": args.rates,
        "p99_limit_ms": args.p99_limit_ms,
        "seconds": args.seconds,
        "trace": args.trace,
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": next((ln for ln in java.stderr.splitlines() if "version" in ln), "unknown"),
    }


def _on_alarm(signum, frame):
    raise RunTimeout(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "table_demo_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from tracing import Tracer

    load_start = list(os.getloadavg())
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    rt = Runtime(args)
    try:
        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
        result = workloads.run(args, rt, tracer, T0)
        if tracer is not None:
            rt.stop_spark()  # flushes the event log
            result.add_trace(tracer, rt.event_log)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        signal.alarm(0)
        rt.close()
    info = _describe(args, load_start)
    print("run " + json.dumps(info))
    for line in result.details:
        print(line)
    print(json.dumps(result.summary(trace=bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

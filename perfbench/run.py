"""Benchmark of record for the threat-intelligence KG pipeline.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 12 --trace 0

Workloads: ``batch_build`` and ``graph_query`` (see
``workloads.py`` and ``DESIGN.md``). One process drives Spark at
``local[<cores>]`` with the package imported from the checkout this file
sits in. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the workload-specific figures (and, traced, the prediction
checks). ``--smoke`` runs tiny sizes, for ``test_smoke.py``.

Everything the run writes stays under ``<checkout>/.perfbench/``; spans
of a traced run are written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "threat_intelligence_knowledge_graph_spark"
# build_session defaults to a 48g heap; the graphs here need a fraction.
DRIVER_MEMORY = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_ms": "ms",
    "peak_rss_mb": "MB",
    "head_bytes_per_input_byte": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["batch_build", "graph_query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes")
    return p.parse_args(argv)


# -- process tree -------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class PeakRss:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # each command's own peak (java, python3, ...), for diagnosis
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        by_command: dict[str, int] = {}
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    command = f.read().strip()
            except OSError:
                continue
            by_command[command] = by_command.get(command, 0) + rss
        for command, rss in by_command.items():
            self.peak_by_command[command] = max(self.peak_by_command.get(command, 0), rss)
        return sum(by_command.values())

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._sample())


# -- Spark lifecycle ------------------------------------------------------------


def configure_env(work: str) -> None:
    """Environment the driver JVM and its Python workers inherit: the
    package on PYTHONPATH (workers import it to run the kernel), a bounded
    heap, and scratch space inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM (the launcher and the driver) keeps its temp files in the
    # checkout and writes no /tmp/hsperfdata file.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ.pop("SPARK_MASTER", None)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The driver heap starts at its maximum: a heap G1 grows on demand
        # reached 1 GB in some runs and not in others, which moved peak RSS
        # by half between runs.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    return conf


def start_session(cores: int, conf: dict[str, str]):
    from threat_intelligence_knowledge_graph_spark.session import build_session

    spark = build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and the gateway JVM, then wait until every process this
    run started (JVM, Python worker daemons) has exited."""
    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# -- the run ------------------------------------------------------------------


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def workload_figures(name: str, ops: list[dict]) -> dict:
    """The workload-specific figures, by the names the workload's users
    know them (each only where it is defined), with sample counts."""
    done = [o for o in ops if not o["error"]]
    lat = [o["lat"] for o in done]
    failed = sum(not o["ok"] for o in ops)
    fig: dict = {
        "ops": {"value": len(ops), "unit": "count"},
        "ops_checked": {"value": sum(o["checked"] for o in ops), "unit": "count"},
        "ops_failed_ratio": {"value": failed / len(ops), "unit": "ratio"},
    }
    if name == "batch_build" and done:
        fig["turns_per_s"] = {"value": sum(o["turns"] for o in done) / sum(lat), "unit": "turns/s"}
        fig["write_bytes_per_input_byte"] = {
            "value": sum(o["write_bytes"] for o in done) / sum(o["input_bytes"] for o in done),
            "unit": "ratio",
        }
    if name == "graph_query" and done:
        fig["query_ms_p50"] = {"value": 1e3 * statistics.median(lat), "unit": "ms", "n": len(lat)}
        by_kind: dict[str, list[float]] = {}
        for o in done:
            by_kind.setdefault(o["kind"], []).append(o["lat"])
        fig["kind_ms_p50"] = {
            "value": {k: 1e3 * statistics.median(v) for k, v in sorted(by_kind.items())},
            "unit": "ms",
        }
        # The highest percentile with at least ten samples beyond it.
        for q in (90, 80, 75, 70, 60):
            if len(lat) * (100 - q) / 100 >= 10:
                fig[f"query_ms_p{q}"] = {"value": 1e3 * percentile(lat, q), "unit": "ms", "n": len(lat)}
                break
    return fig


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM (in local mode, also the executor) has
    spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run(args, work: str) -> dict:
    from layers import PER_LAYER_UNITS, kernel_bench, kernel_seconds, layer_metrics, prediction_checks
    from tracing import Tracer, spark_counts
    from workloads import FULL, SMOKE, WORKLOADS, round_latencies

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](SMOKE if args.smoke else FULL, cores)
    conf = session_conf(work, bool(args.trace))
    spark = None
    try:
        # One set-up per run: a repeat in the same JVM would be warm, which
        # is not the cost a user pays, and the time budget of a full
        # comparison leaves no room for more cold ones (see DESIGN.md). Warm-up runs after
        # it, outside both set-up and measurement.
        t0 = time.perf_counter()
        spark = start_session(cores, conf)
        session_s = time.perf_counter() - t0
        wl.setup(spark, os.path.join(work, "setup"), args.seed)
        setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up(spark)
        phases = {"session_s": session_s, "setup_s": setup_s, "warm_up_s": time.perf_counter() - t0}

        if not args.trace:
            gc0, cpu0 = jvm_gc_s(spark), cpu_times()
            with PeakRss() as rss:
                ops = wl.loop(spark, args.seconds)
            cpu = [b - a for a, b in zip(cpu0, cpu_times())]
            phases["loop_gc_s"] = jvm_gc_s(spark) - gc0
            phases["peak_rss_mb_by_command"] = {
                k: v / 2**20 for k, v in sorted(rss.peak_by_command.items())
            }
            # Time the host gave to other guests, and the machine's busy
            # share: what explains a slow run that no code change caused.
            phases["loop_steal_share"] = cpu[7] / max(1, sum(cpu))
            phases["loop_busy_share"] = 1 - (cpu[3] + cpu[4]) / max(1, sum(cpu))
            # An operation that raised is timed until it raised: it still
            # counts against the latency the user saw. Per round, so every
            # operation kind of the mix weighs in.
            metrics = {
                "setup_s": setup_s,
                "op_ms": 1e3 * statistics.median(round_latencies(ops)),
                "peak_rss_mb": rss.peak_bytes / 2**20,
                "head_bytes_per_input_byte": wl.head_ratio,
            }
            units, info = END_TO_END_UNITS, {"workload_metrics": workload_figures(wl.name, ops)}
            info["phases"] = phases
            info["round_ms"] = [1e3 * x for x in round_latencies(ops)]
            info["latencies_s"] = [o["lat"] for o in ops]
        else:
            # Untraced and traced rounds alternate; only the traced ones
            # feed the spans and the Spark counts.
            tracer = Tracer()
            ops = wl.loop(spark, args.seconds, tracer)
            untraced = [o for o in ops if not o["traced"]]
            traced = [o for o in ops if o["traced"]]
            try:
                resume_ok = wl.resume(spark, tracer)
            except Exception:  # a resume that raises is a failed operation
                print("perfbench: resume failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                resume_ok = False
            tracer.run_id = None
            kernel_bench(tracer, wl.docs)
            extracted = any(s.get("table") == "extraction" for s in tracer.spans)
            kernel_s = kernel_seconds(wl.docs) if extracted else 0.0
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            counts = spark_counts(os.path.join(work, "events"), app_id, "traced")

            overhead = statistics.median(round_latencies(traced)) / statistics.median(
                round_latencies(untraced)
            ) - 1
            metrics = layer_metrics(tracer, cores, kernel_s, counts, overhead)
            checks = prediction_checks(tracer, wl.name)
            if resume_ok is not None:
                checks["resume_commits_nothing"] = resume_ok
            out = os.path.join(ROOT, ".perfbench", "out", f"spans-{wl.name}-{args.seed}.jsonl")
            tracer.dump(out)
            ops += [] if resume_ok is None else [{"ok": resume_ok}]
            units = PER_LAYER_UNITS
            info = {
                "workload_metrics": workload_figures(wl.name, untraced),
                "round_ms": {
                    "untraced": [1e3 * x for x in round_latencies(untraced)],
                    "traced": [1e3 * x for x in round_latencies(traced)],
                },
                "checks": checks,
                "spans": {"count": len(tracer.spans), "file": os.path.relpath(out, ROOT)},
            }
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o["ok"] for o in ops)
    print(json.dumps(info))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    sys.path.insert(1, ROOT)
    result = run(args, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

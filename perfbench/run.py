"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload intake_stream --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up (session start, seeded inputs,
untimed warm-up) is timed as ``setup_s``; then whole steps run until
``--seconds`` have passed; then the outputs are checked against the
generator's planted outcomes (untimed). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import defaultdict

T_START = time.perf_counter()
# no __pycache__ in the checkout, from this process or Spark's Python workers
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Spark ``local[k]``: fixed, so the figures do not follow the host's
#: core count; the driver heap is explicit for the same reason. k=2
#: leaves cores for the driver, the JIT and the Python workers: at k=4 on
#: a 4-core host the same step ran slower and spread twice as wide.
CORES = 2
DRIVER_MEMORY = "1g"


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant:
    the Spark JVM and its Python workers. A descendant that exited counts
    through its parent's ``cutime``/``cstime`` once reaped."""
    kids, cpu = defaultdict(list), {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(name))
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def start_session(run_dir: str, event_log: str | None):
    from da_transform_judgments_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
        # -Xms = -Xmx: the collector sizes its generations from the full
        # heap from the start, so the JVM's resident high-water mark
        # varied 3% between runs instead of 20%.
        # -XX:TieredStopAtLevel=1: C1 only. A run is a minute long and
        # the C2 compiler never paid back its threads' CPU: set-up was
        # 5-6 s shorter and the timed steps no slower.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1",
    }
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit,
    also when ``spark.stop()`` fails (as it can mid-call on SIGTERM)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is waited for below
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)


def phase(name: str) -> None:
    """Elapsed time since start, on stderr: where a run's time goes."""
    print(f"perfbench: {name} done at {time.perf_counter() - T_START:.2f}s",
          file=sys.stderr, flush=True)


def main() -> int:
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=None,
                    help="with --trace 1, also write the spans here (JSON)")
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import da_transform_judgments_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {root}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one "
              f"of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp_root = os.path.join(root, ".perfbench-tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    spark = None
    try:
        from tracing import Tracer, fold_spark, read_event_log

        tracer = Tracer() if args.trace else None
        event_log = os.path.join(run_dir, "eventlog") if args.trace else None
        spark = start_session(run_dir, event_log)
        phase("session")
        wl = workloads.WORKLOADS[args.workload](
            spark, run_dir, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        phase("setup")

        steps = []  # (step id, wall seconds, epoch start, epoch end)
        step_cpu = []
        t_timed = time.perf_counter()
        while (len(steps) < wl.MIN_STEPS
               or time.perf_counter() - t_timed < args.seconds):
            sid = f"s{len(steps)}"
            if tracer is not None:
                tracer.step = sid
                spark.sparkContext.setJobGroup(sid, sid)
            c0 = tree_cpu_s()
            e0, p0 = time.time(), time.perf_counter()
            wl.step(sid)
            steps.append((sid, time.perf_counter() - p0, e0, time.time()))
            step_cpu.append(tree_cpu_s() - c0)
        timed_s = time.perf_counter() - t_timed
        phase("timed")
        if tracer is not None:
            tracer.step = None
            spark.sparkContext.setJobGroup("check", "check")

        outcome = wl.check()
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        layer = wl.layer_metrics([s[0] for s in steps]) if tracer else None
        phase("check")
        stop_session(spark)
        spark = None
        phase("stop")

        step_walls = [s[1] for s in steps]
        if args.trace:
            windows = {s[0]: (s[2], s[3]) for s in steps}
            per = fold_spark(read_event_log(event_log), windows)
            med = lambda k: statistics.median(per[s][k] for s in windows)  # noqa: E731
            layer.update({
                "step.wall_s": (statistics.median(step_walls), "s"),
                "spark.jobs": (med("jobs"), "count"),
                "spark.tasks": (med("tasks"), "count"),
                "spark.driver_only_s": (med("driver_only_s"), "s"),
                "spark.executor_run_s": (med("run_s"), "s"),
                "spark.executor_cpu_s": (med("cpu_s"), "s"),
                "spark.gc_s": (med("gc_s"), "s"),
                "spark.shuffle_write_mb": (med("shuffle_b") / 2**20, "MB"),
                "spark.output_mb": (med("out_b") / 2**20, "MB"),
                "spark.output_files": (med("files"), "count"),
            })
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            if args.spans:
                tracer.write(args.spans)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "step_cpu_s": {"value": min(step_cpu), "unit": "s"},
                "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            }
            metrics.update({k: {"value": v, "unit": u}
                            for k, (v, u) in wl.end_to_end(step_walls).items()})
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": CORES,
            "driver_memory": DRIVER_MEMORY, "setup_s": round(setup_s, 3),
            "steps": len(steps),
            "ops_per_s": round(outcome["ok"] / timed_s, 4),
            "step_p50_s": round(statistics.median(step_walls), 4),
            "step_walls_s": [round(w, 4) for w in step_walls],
            "step_cpu_s": [round(c, 3) for c in step_cpu],
            "problems": outcome["problems"][:20],
        }))
        print(json.dumps({
            "correct": outcome["correct"],
            "attempted": outcome["attempted"],
            "failed": outcome["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(tmp_root)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run starts Spark on local[nproc] through
``session.get_spark`` with the program's own settings, stages the seed's
inputs (three times; the median counts), runs one untimed warm-up pass,
then timed passes until ``S`` seconds of pass time have accumulated and at
least the workload's ``min_passes`` have run. Calls run in the workload's
fixed order. Every output is checked after its pass. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
set-up and warm-up pass, then two more Spark sessions in the same, now warm
JVM: first one with the event log on, then one without, each timing its
passes as above for half of ``S``. It reports the per-layer metrics (see
METRICS.md) from the traced session, and the tracing overhead: the traced
median pass time minus that of the untraced session after it.

All scratch files go under ``.perfbench_out/`` in the repository root and
are removed at exit, as is every process the run started.
"""

from __future__ import annotations

import time

_PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "page_rank_mapreduce_java_spark"
STAGE_REPEATS = 3
WARMUP_PASSES = 1
# Keep JVM scratch files inside the run's directory.
JVM_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _PROCESS_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Session:
    """Figures of one Spark session's passes."""

    get_spark_s: float = 0.0
    cold_pass_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)
    retained_mb: list[float] = field(default_factory=list)
    spans: list = field(default_factory=list)  # CallSpan of timed passes
    steal_pct: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        # UDF legs unpickle program functions on the Python workers.
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=os.path.join(work, "tmp")),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4 compresses with zstd by default; the reader needs plain JSON.
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return conf


def storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def release(spark) -> None:
    """Drop every persisted block, so passes stay independent."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def run_pass(spark, calls, label: str, session: Session, timed: bool) -> None:
    import procstat
    from layers import CallSpan

    sc = spark.sparkContext
    wall = cpu = retained = 0.0
    outputs, walls = [], []
    for call in calls:
        group = f"{label}:{call.name}"
        cpu0 = procstat.tree_cpu_s(os.getpid())
        t0 = t1 = time.time()
        result, error = None, None
        try:
            sc.setJobGroup(group, call.name)
            value = call.compute()
            t1 = time.time()
            sc.setJobGroup(group + "#out", call.name)
            result = call.finish(value)
            del value
        except Exception as e:  # noqa: BLE001 - a failing call is counted, not fatal
            log(f"{label}:{call.name} raised\n{traceback.format_exc()}")
            error = f"raised {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        t2 = time.time()
        cpu += procstat.tree_cpu_s(os.getpid()) - cpu0
        sc.setJobGroup("perfbench-idle", "between calls")
        wall += t2 - t0
        walls.append(f"{call.name}={t2 - t0:.2f}")
        retained += storage_mb(sc)
        release(spark)
        session.attempted += 1
        outputs.append((call, result, error))
        if timed:
            session.spans.append(CallSpan(call.name, call.layer, call.finish_layer, group,
                                          t0 * 1e3, (t1 if error is None else t2) * 1e3,
                                          t2 * 1e3))
    gc.collect()  # driver-side garbage of this pass, outside any span
    log(f"{label}: {' '.join(walls)}")
    for call, result, error in outputs:
        if error is None:
            try:
                error = call.check(result)
            except Exception as e:  # noqa: BLE001
                error = f"check raised {type(e).__name__}: {e}"
        if error is not None:
            session.failures.append(f"{label}:{call.name}: {error}")
    if timed:
        session.pass_s.append(wall)
        session.cpu_s.append(cpu)
        session.retained_mb.append(retained)
    else:
        session.cold_pass_s = wall


def run_session(workload, work: str, traced: bool, first: bool, seconds: float) -> tuple:
    """Start Spark; in the first session stage the inputs and run the
    warm-up passes; then time passes for ``seconds`` (none when 0)."""
    import procstat
    from page_rank_mapreduce_java_spark.session import get_spark

    s = Session()
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=spark_conf(work, traced))
    s.get_spark_s = time.perf_counter() - t
    stage_s = 0.0
    if first:
        times = []
        for attempt in range(STAGE_REPEATS):
            t = time.perf_counter()
            workload.stage(attempt)
            times.append(time.perf_counter() - t)
        stage_s = statistics.median(times)
        workload.prepare()
        log("inputs staged, reference results ready")
    calls = workload.calls(spark)
    tag = "traced-" if traced else ""
    for i in range(WARMUP_PASSES if first else 0):
        run_pass(spark, calls, f"warmup{i}", s, timed=False)
    steal0, total0 = procstat.cpu_ticks()
    while seconds and (len(s.pass_s) < workload.min_passes or sum(s.pass_s) < seconds):
        run_pass(spark, calls, f"{tag}pass{len(s.pass_s)}", s, timed=True)
    steal1, total1 = procstat.cpu_ticks()
    s.steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    jvm = procstat.java_pid(os.getpid())
    jvm_rss = procstat.peak_rss_mb(jvm) if jvm else 0.0
    spark.stop()
    log("session stopped")
    return s, stage_s, jvm_rss


def stop_processes() -> None:
    """Shut the Spark JVM down and wait for it and everything it started."""
    import procstat
    from pyspark import SparkContext

    me = os.getpid()
    others = [p for p in procstat.descendants(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in others if _alive(p)]
        if not alive:
            return
        if time.time() > deadline - 10:
            for p in alive:
                _signal(p, signal.SIGKILL)
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
            os.path.join(ROOT, "tools", "check_oracle.py")):
        log(f"{ROOT} holds no {PACKAGE} checkout; run from the repository root")
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM that spark-submit runs before the driver JVM
        "SPARK_LAUNCHER_OPTS": JVM_OPTS.format(tmp=os.path.join(work, "tmp")),
    })
    try:
        result = run(WORKLOADS[args.workload](work, args.seed, nproc), args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
        log("processes stopped")
    for failure in result.pop("failures"):
        print(f"FAIL {failure}")
    print(json.dumps(result, allow_nan=False))
    return 0


def run(workload, args, work: str) -> dict:
    t = time.perf_counter()
    workload.import_program()
    import_s = time.perf_counter() - t
    first, stage_s, _ = run_session(workload, work, traced=False, first=True,
                                    seconds=0 if args.trace else args.seconds)
    setup_s = import_s + first.get_spark_s + stage_s + first.cold_pass_s
    log(f"set-up: import {import_s:.2f}s, get_spark {first.get_spark_s:.2f}s, "
        f"staging {stage_s:.2f}s, warm-up pass {first.cold_pass_s:.2f}s")
    sessions = [first]
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        errors = len(first.failures) / max(1, first.attempted)
        metrics = {
            "pass_s": (statistics.median(first.pass_s), "s"),
            "cpu_s": (statistics.median(first.cpu_s), "s"),
            "setup_s": (setup_s, "s"),
            "success_rate": (1.0 - errors, "ratio"),
        }
    else:
        from eventlog import read_trace
        from layers import UNITS, layer_metrics

        # Traced first, untraced second: the untraced reference runs on a
        # JVM at least as warm as the traced one, so warm-up cannot pass
        # for a negative tracing cost.
        # The two sessions share the run's seconds, so that a traced run
        # does not take twice as long as an untraced one.
        traced, _, _ = run_session(workload, work, traced=True, first=False,
                                   seconds=args.seconds / 2)
        plain, _, jvm_rss = run_session(workload, work, traced=False, first=False,
                                        seconds=args.seconds / 2)
        sessions += [traced, plain]
        trace = read_trace(os.path.join(work, "eventlog"))
        values = layer_metrics(trace, traced.spans, len(traced.pass_s))
        values.update({
            "session.get_spark_s": first.get_spark_s,
            "session.stage_inputs_s": stage_s,
            "host.cold_pass_s": first.cold_pass_s,
            "host.jvm_peak_rss_mb": jvm_rss,
            "host.storage_retained_mb": statistics.median(traced.retained_mb),
            "host.steal_pct": traced.steal_pct,
            "trace.overhead_s": statistics.median(traced.pass_s)
            - statistics.median(plain.pass_s),
        })
        attempted = sum(x.attempted for x in sessions)
        values["error_rate"] = sum(len(x.failures) for x in sessions) / max(1, attempted)
        metrics = {name: (values[name], unit) for name, unit in UNITS.items()}
    for x in sessions[1:] if args.trace else sessions:
        log(f"timed passes {[round(p, 2) for p in x.pass_s]}, CPU steal {x.steal_pct:.1f}%")
    failures = [f for x in sessions for f in x.failures]
    return {
        "correct": not failures,
        "attempted": sum(x.attempted for x in sessions),
        "failed": len(failures),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "failures": failures,
    }


if __name__ == "__main__":
    sys.exit(main())

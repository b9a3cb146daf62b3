"""Benchmark of the xagg_spark overlap -> aggregate engine.

    python3 perfbench/run.py --workload geo --seed 1 --seconds 24 --trace 0

Run from the root of a checkout.  One process runs one workload as a closed
loop with one client: set-up, untimed warm-up passes, then timed passes
back to back for ``--seconds`` seconds at ``local[<cores>]``.  Each pass is
checked for correctness outside its timed region, then what it created is
freed.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
diagnostics (cores, heap, input sizes, per-pass load average).

``--trace 0`` reports the end-to-end metrics (setup_s, pass_s, ok_rate).
``--trace 1`` turns the Spark event log on, records a span around every call
into the engine on every other timed pass, and reports the per-layer metrics
of ``tracing.metric_units()``.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("geo", "knn")
HEAP = "4g"   # driver heap: local mode runs every executor in this JVM
MIN_PASSES = 3
# a run must end within 180 s: no pass starts once the time since process
# start plus the last pass's duration would pass this, even below MIN_PASSES
DEADLINE_S = 150


def pin_environment(work: str, cores: int, trace: bool) -> None:
    """Fix, from outside the engine, every setting the engine reads from the
    environment at session start."""
    # engine knobs keep their defaults; SPARK_LOCAL_DIRS would override
    # the scratch directory set below
    for k in ("XAGG_SPARK_PERIODIC_GC", "XAGG_SPARK_SHJ_THRESHOLD", "SPARK_LOCAL_DIRS"):
        os.environ.pop(k, None)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["XAGG_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import xagg_spark inside mapInPandas
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # temporary files of Python and of both JVMs (spark-submit's launcher
    # and the driver) stay in the run's scratch; the JVMs keep their perf
    # counters in memory instead of in a file under the system temp dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    confs = [("spark.eventLog.enabled", "true" if trace else "false")]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        confs += [("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog")),
                  ("spark.eventLog.compress", "false"),
                  ("spark.eventLog.rolling.enabled", "false")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs) + " pyspark-shell"


def storage_mb(sc) -> float:
    """Block-manager storage held by persisted and checkpointed RDDs."""
    return sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6


def force_cleanup(sc, keep: set) -> None:
    """Unpersist every RDD the workload did not keep, then run a JVM GC so
    the context cleaner drops dead shuffles and broadcasts now, and a
    Python GC so the driver does not collect during the next pass."""
    for rid, rdd in sc._jsc.getPersistentRDDs().items():
        if int(rid) not in keep:
            rdd.unpersist(True)
    sc._jvm.System.gc()
    gc.collect()


def cpu_ticks() -> tuple:
    """(steal, total) clock ticks of all CPUs since boot: time the host ran
    something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "xagg_spark", "__init__.py")):
        print(f"perfbench: no xagg_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cores: int, work: str) -> int:
    pin_environment(work, cores, bool(args.trace))
    sys.path.insert(0, ROOT)
    import warnings
    warnings.filterwarnings("ignore", category=RuntimeWarning)  # all-NaN tiles

    import fixtures
    t = time.perf_counter()
    fixture = fixtures.prepare(args.workload, args.seed)
    excluded = time.perf_counter() - t       # prepare + checks: not set-up

    from tracing import Tracer, metric_units, per_layer
    from workloads import WORKLOADS as CLASSES
    from xagg_spark.options import set_options
    from xagg_spark.session import get_spark
    set_options(silent=True)

    tracer = Tracer(bool(args.trace))
    marks = {"imported_s": time.perf_counter() - T_START - excluded}
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", master=f"local[{cores}]")
    sc = tracer.sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    ctx = SimpleNamespace(spark=spark, seed=args.seed, fixture=fixture,
                          work=work, tracer=tracer)
    wl = CLASSES[args.workload](ctx)
    passes, errors = [], []
    try:
        marks["session_s"] = time.perf_counter() - T_START - excluded
        wl.setup()
        marks["workload_setup_s"] = time.perf_counter() - T_START - excluded
        keep = {int(r) for r in sc._jsc.getPersistentRDDs().keys()}

        def one_pass(phase: str, traced: bool):
            tracer.phase, tracer.active = phase, traced
            load1m = os.getloadavg()[0]
            steal0, total0 = cpu_ticks()
            out = err = None
            t0 = time.perf_counter()
            try:
                out = wl.run()
            except Exception as e:       # a failed pass counts against ok_rate
                err = repr(e)
                traceback.print_exc()
            wall = time.perf_counter() - t0
            steal1, total1 = cpu_ticks()
            tracer.active = False
            if err is None:
                try:
                    err = wl.check(out)
                except Exception as e:
                    err = repr(e)
                    traceback.print_exc()
            check_s = time.perf_counter() - t0 - wall
            if out is not None:
                wl.cleanup(out)
            storage = storage_mb(sc)
            force_cleanup(sc, keep)
            if err:
                errors.append(f"{phase}: {err}")
            return {"phase": phase, "wall": wall, "traced": traced, "ok": err is None,
                    "storage_mb": storage, "load1m": load1m, "check_s": check_s,
                    "steal": (steal1 - steal0) / max(total1 - total0, 1)}

        warm = [one_pass(f"warmup{i}", bool(args.trace)) for i in range(wl.warmup_passes)]
        excluded += sum(w["check_s"] for w in warm)
        setup_s = time.perf_counter() - T_START - excluded
        # closed loop, one client: the next pass starts only if the timed
        # time so far plus the last pass's duration still fits in the
        # window, so the passes fill about --seconds whatever their length.
        # Checks and clean-up run outside the window.  At least MIN_PASSES
        # run, so that a pass slowed by the host (CPU steal) is not the
        # median, even when it leaves no room for another in the window.
        while not passes or (
                time.perf_counter() - T_START + passes[-1]["wall"] <= DEADLINE_S
                and (len(passes) < MIN_PASSES
                     or sum(p["wall"] for p in passes) + passes[-1]["wall"] <= args.seconds)):
            i = len(passes)
            passes.append(one_pass(f"p{i}", bool(args.trace) and i % 2 == 0))
        peak_rss_mb = vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    walls = [p["wall"] for p in passes if not p["traced"]]
    ok = [p["ok"] for p in passes]
    if args.trace:
        layer = per_layer(tracer, os.path.join(work, "eventlog"), cores,
                          [(p["phase"], p["wall"], p["traced"]) for p in passes],
                          [p["storage_mb"] for p in passes], peak_rss_mb)
        units = metric_units()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(walls), "unit": "s"},
            "ok_rate": {"value": sum(ok) / len(ok), "unit": "ratio"},
        }
    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_heap": HEAP, "sizes": getattr(wl, "sizes", {}),
            "pass_samples": len(walls), "pass_walls_s": [round(w, 4) for w in walls],
            "peak_rss_mb": round(peak_rss_mb, 1),
            "load1m": [round(p["load1m"], 2) for p in passes],
            "steal_share": [round(p["steal"], 3) for p in passes],
            "setup_marks_s": {k: round(v, 3) for k, v in marks.items()},
            "prepare_s": round(excluded - sum(w["check_s"] for w in warm), 3),
            "warmup_walls_s": [round(w["wall"], 4) for w in warm],
            "errors": errors[:10]}
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": all(w["ok"] for w in warm) and all(ok),
                      "attempted": len(passes),
                      "failed": len(passes) - sum(ok), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

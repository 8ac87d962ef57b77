"""Benchmark entry point.

One workload, one seed:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

prints host and config as one JSON line, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload
with spans and the Spark event log on and reports the per-layer metrics
(plus the traced run's own end-to-end figures under ``trace.``); its
config line also holds every span.

Every workload, in child processes, as tables:

    python3 perfbench/run.py --all --seed 1              # end to end
    python3 perfbench/run.py --all --seed 1 --trace 1    # + per layer

The second form also prints the tracing overhead: each traced
end-to-end figure minus the untraced one.

Run from the root of a checkout.  Scratch data, Spark's local dirs and
the event log live under ``.perfbench_work/`` in the checkout and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this directory heads sys.path; import the benchmark
# as the ``perfbench`` package instead, so its modules shadow nothing
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
JIT_OPTION = "-XX:TieredStopAtLevel=1"


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_ticks() -> list[int] | None:
    """The machine's aggregate CPU tick counters from /proc/stat (Linux),
    or None where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(t0: list[int] | None, t1: list[int] | None):
    """Share of CPU time the hypervisor took from this machine between
    two ``_cpu_ticks`` readings: host contention, recorded beside the
    figures so it can be told apart from a change in the program."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) > 0 else None


def _spark_conf(trace: bool, run_dir: str) -> dict[str, str]:
    # keep the JVM's temp files in the run directory, and skip its
    # /tmp performance-counter file.  The JIT stops at C1: with the
    # default tiered C2 the read paths kept getting faster for a minute
    # of calls, so a short window timed the compiler's progress (which
    # host contention slows) more than the program; with C1 they level
    # off within the warm-up.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
            f" {JIT_OPTION}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM it runs in, and wait for
    that process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import metrics, workloads
    from perfbench.spans import Tracer, read_event_log

    nproc = _nproc()
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    event_dir = os.path.join(run_dir, "events")
    for sub in ("data", "events", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = None
    try:
        tracer = Tracer(trace, data_dir)
        rec = metrics.Recorder(tracer)
        # inputs are generated before the clock starts
        wl = workloads.WORKLOADS[workload](seed, data_dir, rec, tracer)

        t0 = time.perf_counter()
        from astro_vectordb_spark.session import get_spark

        spark = get_spark(f"perfbench-{workload}",
                          extra_conf=_spark_conf(trace, run_dir))
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup_phases["session"] = time.perf_counter() - t0
        tracer.install(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        rec.reset_timings()  # a warm-up round is set-up, not measured

        ticks = _cpu_ticks()
        measured = workloads.measure(wl, seconds)
        steal = _steal_share(ticks, _cpu_ticks())
        for err in rec.errors:
            print(f"failed call: {err}", file=sys.stderr)
        figures = {"setup_s": setup_s, **rec.summary(measured),
                   "space_amp": wl.space_amp()}
        e2e = {k: figures[k] for k in metrics.END_TO_END}
        config = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "measured_s": measured, "trace": int(trace), "nproc": nproc,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEM,
            "jit": JIT_OPTION,
            "pyspark": spark.version,
            "setup_phases": wl.setup_phases,
            "steal_share": steal,
            "wall": {k: figures[k] for k in metrics.WALL},
            **wl.report(),
            "calls": rec.per_name(),
            # too few calls per run for a gated tail: reported, not gated
            "call_tail": dict(zip(("s", "percentile"),
                                  metrics.tail(rec.all_timings())))
            if rec.all_timings() else None,
            "errors": rec.errors,
        }
        if trace:
            counts = tracer.job_counts()
            config["spans"] = tracer.records()
            _stop(spark)
            spark = None
            layer = tracer.layer_metrics(counts, read_event_log(event_dir))
            for k, v in figures.items():
                layer[f"trace.{k}"] = v
            values = layer
        else:
            values = e2e
        return {"config": config, "correct": rec.failed == 0,
                "attempted": rec.attempted, "failed": rec.failed,
                "values": values}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def _units() -> dict[str, str]:
    from perfbench.metrics import END_TO_END, WALL
    from perfbench.spans import layer_metric_names

    units = dict(END_TO_END)
    units.update({n: u for n, u, _ in layer_metric_names()})
    units.update({f"trace.{k}": u
                  for k, u in {**END_TO_END, **WALL}.items()})
    return units


def _result_line(out: dict) -> str:
    units = _units()
    return json.dumps({
        "correct": out["correct"], "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out["values"].items()},
    })


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          check=True)
    lines = proc.stdout.strip().splitlines()
    return {"config": json.loads(lines[-2]), **json.loads(lines[-1])}


def run_all(seed: int, seconds: float, trace: bool) -> int:
    from perfbench.metrics import WALL
    from perfbench.workloads import WORKLOADS

    ok = True
    for wl in WORKLOADS:
        plain = _child(wl, seed, seconds, 0)
        ok &= plain["correct"]
        print(f"== {wl}: {plain['failed']} failed of {plain['attempted']} "
              f"attempted; host {json.dumps(plain['config']['host'])}")
        for name, m in plain["metrics"].items():
            print(f"  {name:<24} {m['value']:>12.4f} {m['unit']}")
        for name, v in plain["config"]["wall"].items():
            print(f"  {name:<24} {v:>12.4f} {WALL[name]} (wall clock, "
                  "not gated)")
        if not trace:
            continue
        traced = _child(wl, seed, seconds, 1)
        ok &= traced["correct"]
        print(f"-- {wl} traced: {traced['failed']} failed of "
              f"{traced['attempted']} attempted")
        for name, m in traced["metrics"].items():
            if not name.startswith("trace."):
                print(f"  {name:<48} {m['value']:>14.4f} {m['unit']}")
        print(f"-- {wl} tracing overhead (traced minus untraced)")
        untraced = {**{k: (m["value"], m["unit"])
                       for k, m in plain["metrics"].items()},
                    **{k: (v, WALL[k])
                       for k, v in plain["config"]["wall"].items()}}
        for name, (v, unit) in untraced.items():
            t = traced["metrics"][f"trace.{name}"]["value"]
            print(f"  {name:<24} {t - v:>+12.4f} {unit}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload in child processes")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "astro_vectordb_spark")):
        print(f"no astro_vectordb_spark package under {ROOT}: run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.all:
        return run_all(args.seed, args.seconds, bool(args.trace))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    out = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    cfg = out["config"]
    cfg["host"] = {k: cfg[k] for k in ("nproc", "master",
                                       "shuffle_partitions", "pyspark")}
    print(json.dumps(cfg))
    print(_result_line(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

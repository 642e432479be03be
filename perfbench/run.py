"""Repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The seed generates every input; the
program sees only those inputs. With ``--trace 0`` the last stdout
line is a JSON object holding every end-to-end metric (times in CPU
seconds of the whole process tree, see README.md); with
``--trace 1`` it holds every per-layer metric instead, taken from
spans around the benchmark's calls and from the Spark event log.
The line before it is a detail record (machine load, failures,
per-operation wall and CPU figures, the per-layer figures). ``--smoke`` runs every workload at the smallest
scale and checks the metrics and the correctness gate (see README.md).
Scratch files, Spark's included, live under ``.perfbench/`` in the
working directory and are removed at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")

SCALES = {
    "full": {"sf": 0.01, "rows": 50_000, "docs": 500, "warm_docs": 50},
    "smoke": {"sf": 0.001, "rows": 5_000, "docs": 50, "warm_docs": 50},
}
SETUP_REPS = 3
# runnable by name but not one of BENCHMARK.json's workloads: its fresh
# process needs 75-100 s, more than the run budget allows (README.md)
EXTRA_WORKLOADS = ("ingest_cycles",)


def workload_class(name: str):
    if name == "query_mix":
        from perfbench.query_mix import QueryMix

        return QueryMix
    if name == "timebox_store":
        from perfbench.timebox_store import TimeboxStore

        return TimeboxStore
    from perfbench.ingest_cycles import IngestCycles

    return IngestCycles


def _prepare(cls, data: str, seed: int, scale: dict) -> dict:
    """Generate (or regenerate) the run's inputs and pre-read them."""
    from perfbench import gen

    shutil.rmtree(data, ignore_errors=True)
    prep = cls.prepare(data, seed, scale)
    gen.pre_read(data)
    return prep


def run_workload(spark, tracer, workload: str, seed: int, seconds: float,
                 scale: dict, data: str, corrupt: bool = False, warm: bool = True) -> dict:
    """Set up, warm and measure one workload."""
    cls = workload_class(workload)
    prep_s, prep_cpu = [], []
    for _ in range(SETUP_REPS):
        t0, cpu0 = time.perf_counter(), cpu_total(tracer.clock)
        prep = _prepare(cls, data, seed, scale)
        prep_s.append(time.perf_counter() - t0)
        prep_cpu.append(cpu_total(tracer.clock) - cpu0)
    wl = cls(spark, tracer, data, prep, corrupt)
    t0, cpu0 = time.perf_counter(), cpu_total(tracer.clock)
    if warm:
        with tracer.span("session.warmup", measured=False):
            wl.warm()
    warm_s = time.perf_counter() - t0
    warm_cpu = cpu_total(tracer.clock) - cpu0
    t0 = time.perf_counter()
    try:
        wl.measure(seconds)
        measure_s = time.perf_counter() - t0
        e2e, layer, detail = wl.report()
    finally:
        wl.cleanup()
    e2e["setup_s"] = statistics.median(prep_cpu) + warm_cpu
    layer["wall.setup_s"] = statistics.median(prep_s) + warm_s
    layer["session.warmup_s"] = warm_s
    if tracer.enabled:
        layer["traced.work_cpu_s"] = e2e["work_cpu_s"]
        layer["traced.op_cpu_p50_s"] = layer["op_cpu_p50_s"]
    detail.update(prep_s=prep_s, prep_cpu=prep_cpu, warm_cpu=warm_cpu,
                  units=wl.units, measure_s=measure_s)
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "units": wl.units,
        "measure_s": measure_s,
        "detail": detail,
    }


def cpu_total(clock) -> float:
    """The clock's CPU seconds, JIT compilation included."""
    work, jit = clock.read()
    return work + jit


def spark_layer(totals: dict, units: int, wall_s: float, cores: int) -> dict:
    """Event-log totals per unit of work, plus the busy fraction."""
    out = {f"spark.{k}": v / units for k, v in totals.items()}
    out["spark.busy_frac"] = totals["task_s"] / (wall_s * cores)
    return out


def load_spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def result_line(spec: dict, res: dict, trace: bool) -> dict:
    """The result object: every metric of the chosen kind, by name and
    unit; a per-layer metric of a layer the workload does not touch
    reads 0."""
    values = res["layer"] if trace else res["e2e"]
    kind = "per_layer" if trace else "end_to_end"
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in spec[kind]
        },
    }


def _isolate(work: str) -> None:
    """Keep scratch files, Spark's included, under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = None  # re-read TMPDIR


def _start_spark(work: str, event_log: bool, clock):
    """A session keeping its scratch (and, when asked, its event log)
    under ``work``; returns (session, wall seconds, CPU seconds taken)."""
    from perfbench.spans import event_log_conf
    from timebox_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"}
    if event_log:
        conf.update(event_log_conf(f"{work}/eventlog"))
    t0, cpu0 = time.perf_counter(), cpu_total(clock)
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0, cpu_total(clock) - cpu0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _spark_totals(work: str, tracer, res: dict, cores: int) -> dict:
    from perfbench.spans import event_log_totals

    totals = event_log_totals(f"{work}/eventlog", tracer.measured_groups())
    return spark_layer(totals, res["units"], res["measure_s"], cores)


def bench_once(args) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS)
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    import bench
    from perfbench.spans import CpuClock, Tracer

    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    _isolate(work)
    load_start = bench.machine_load()
    try:
        clock = CpuClock()
        spark, get_spark_s, get_spark_cpu = _start_spark(work, bool(args.trace), clock)
        try:
            tracer = Tracer(spark, bool(args.trace), clock)
            res = run_workload(spark, tracer, args.workload, args.seed, args.seconds,
                               SCALES["full"], f"{work}/data")
            cores = spark.sparkContext.defaultParallelism
        finally:
            _stop_spark(spark)
        res["e2e"]["setup_s"] += get_spark_cpu
        res["layer"]["wall.setup_s"] += get_spark_s
        res["layer"]["session.get_spark_s"] = get_spark_s
        if args.trace:
            res["layer"].update(_spark_totals(work, tracer, res, cores))
            tracer.write(os.path.join(
                os.getcwd(), ".perfbench", f"spans-{args.workload}-{args.seed}.json"
            ))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = bench.machine_load()
    # bench.py's rule: a foreign JVM or Spark worker alive, or the
    # machine already loaded before this run's JVM started
    contended = load_start["load1"] > 0.25 * (load_start["cpus"] or 1) or any(
        s["other_java_procs"] or s["other_pyspark_procs"] for s in (load_start, load_end)
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "contended": contended,
        "machine_load": [load_start, load_end],
        **res["detail"],
        "layer": res["layer"],
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result_line(spec, res, bool(args.trace))), flush=True)
    return 0


def smoke() -> int:
    """Every workload at the smallest scale in one session: every
    end-to-end metric is positive on every workload, every per-layer
    metric is emitted by some workload, and a corrupted result is
    counted as failed."""
    from perfbench.spans import CpuClock, Tracer

    spec = load_spec()
    work = os.path.join(os.getcwd(), ".perfbench", f"smoke-{os.getpid()}")
    _isolate(work)
    problems = []
    layer_seen: set[str] = set()
    try:
        clock = CpuClock()
        spark, get_spark_s, _cpu = _start_spark(work, True, clock)
        cores = spark.sparkContext.defaultParallelism
        try:
            for w in [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS):
                for trace, corrupt in ((False, False), (True, False), (False, True)):
                    tracer = Tracer(spark, trace, clock)
                    res = run_workload(spark, tracer, w, 1, 0, SCALES["smoke"],
                                       f"{work}/data", corrupt, warm=False)
                    res["layer"]["session.get_spark_s"] = get_spark_s
                    tag = f"{w} trace={int(trace)} corrupt={int(corrupt)}"
                    if trace:
                        res["layer"].update(_spark_totals(work, tracer, res, cores))
                        layer_seen.update(res["layer"])
                    else:
                        bad = [m["name"] for m in spec["end_to_end"]
                               if not res["e2e"].get(m["name"], 0) > 0]
                        if bad:
                            problems.append(f"{tag}: not emitted or not positive: {bad}")
                    line = result_line(spec, res, trace)
                    if corrupt != (line["failed"] > 0):
                        problems.append(f"{tag}: failed={line['failed']} "
                                        f"{res['detail']['failures']}")
                    print(json.dumps({"smoke": tag, **line}), flush=True)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layer_seen]
    if missing:
        problems.append(f"per-layer metrics no workload emits: {missing}")
    for p in problems:
        print("SMOKE FAIL:", p, file=sys.stderr)
    print("smoke", "FAILED" if problems else "OK")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
        and os.path.isdir(os.path.join(ROOT, "timebox_spark"))
    ):
        print("perfbench: bench.py and timebox_spark/ not found beside perfbench/; "
              "run it from a repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    if args.smoke:
        return smoke()
    if not args.workload:
        p.error("--workload is required")
    return bench_once(args)


if __name__ == "__main__":
    sys.exit(main())

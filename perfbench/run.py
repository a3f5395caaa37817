#!/usr/bin/env python3
"""Benchmark runner for the engine's uses: analytics queries
(``query_mix``) and batch plus streaming ingest (``ingest``).

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload on
``local[N]`` with N = the CPUs this process may use:

1. set-up, once: imports, the JVM launch and SparkSession start, the
   seeded inputs, and the workload's untimed warm-up with its output
   checks. ``setup_s`` is that whole span, from the start of this
   script to the end of the warm-up;
2. timed cycles, with output checks outside the timed part, as long
   as the next cycle is expected to end within ``--seconds`` (at
   least one; in the traced run one untraced and one traced).

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates untraced and traced cycles and prints the
per-layer metrics, the tracing overhead among them, and writes the
spans and per-query layer split to ``.perfbench_out/``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Inputs, warehouses and checkpoints live under ``.perfbench_work/`` and
are deleted on exit. ``--size tiny`` shrinks every input for the
benchmark's own test. ``perfbench/METRICS.md`` says what each metric
means on each workload.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import tracing as tr  # noqa: E402
import workloads  # noqa: E402
from workloads import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: cycles a run times at least, by ``--trace``
MIN_CYCLES = {0: 1, 1: 2}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point Spark, the JVM and Python's temp files into ``work`` and
    size the session to this process's CPUs."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts first would write its
    # hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str):
    from building_energy_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _cpu_stat() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``; index 7
    is steal, time the host ran something else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _numbers(cycles) -> dict:
    """The numbers computed from the given cycles."""
    steps = sorted(s for c in cycles for s in c.steps_ms)
    return {
        "cycle_s": median([c.wall_s for c in cycles]),
        "cycle_cpu_s": median([c.cpu_s for c in cycles]),
        "step_p50_ms": median(steps),
        "step_p90_ms": steps[min(len(steps) - 1, int(0.9 * len(steps)))] if steps else 0.0,
    }


def _per_layer(wl, plain, traced, spec, run_level: dict) -> dict:
    """Time-like layer metrics are medians over the traced cycles;
    counts come from the first traced cycle, so they repeat exactly.
    Run-level numbers listed as per-layer metrics come from the
    untraced cycles."""
    rows = wl.layers(wl.tracer.spark, traced)["cycles"]
    run_level = {
        **run_level,
        "trace.cycle_overhead_s": _numbers(traced)["cycle_s"] - run_level["cycle_s"],
    }
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        vals = [r[name] for r in rows if name in r]
        if name in run_level:
            out[name] = run_level[name]
        elif not vals:
            out[name] = 0.0
        elif m["unit"] == "count":
            out[name] = vals[0]
        else:
            out[name] = median(vals)
    return out


def run(args, work: str, t_start: float) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sampler = tr.RssSampler().start()
    tracer = tr.Tracer(enabled=False)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size == "tiny", tracer)
    spark = None
    try:
        spark = _session(work)
        t0 = time.perf_counter()
        wl.prepare(spark)
        t1 = time.perf_counter()
        wl.warm(spark)
        t2 = time.perf_counter()
        setup = {"setup_s": t2 - t_start, "setup.session_s": t0 - t_start,
                 "setup.gen_s": t1 - t0, "setup.warm_s": t2 - t1}
        tracer.spark = spark
        if args.trace and hasattr(wl, "install_spans"):
            wl.install_spans()
        sampler.reset()
        steal0 = _cpu_stat()
        plain, traced = [], []
        t0 = time.perf_counter()
        last = 0.0
        while (len(plain) + len(traced) < MIN_CYCLES[args.trace]
               or time.perf_counter() - t0 + last <= args.seconds):
            t1 = time.perf_counter()
            tracer.enabled = bool(args.trace) and len(plain) > len(traced)
            (traced if tracer.enabled else plain).append(wl.cycle(spark))
            tracer.enabled = False
            last = time.perf_counter() - t1
        peak_mb = sampler.peak_mb
        steal = [b - a for a, b in zip(steal0, _cpu_stat())]
        print(
            "perfbench: set-up " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items())
            + f" s, warm-up steps {[(k, round(v, 2)) for k, v in wl.warm_log]}, "
            "cycles " + ", ".join(
                f"{c.wall_s:.2f}" + "".join(f" {k} {v:.2f}" for k, v in c.parts.items())
                for c in plain + traced) + " s, "
            f"host steal {100 * steal[7] / max(1, sum(steal)):.1f} % of CPU time",
            file=sys.stderr,
        )
        numbers = {**setup, **_numbers(plain), "peak_rss_mb": peak_mb}
        if args.trace:
            metrics = _per_layer(wl, plain, traced, spec, numbers)
            _write_record(args, wl, traced, setup)
        else:
            metrics = {m["name"]: numbers[m["name"]] for m in spec["end_to_end"]}
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
        _stop_jvm()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for f in wl.failures:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print(f"perfbench: {wl.checks_run} output checks ran", file=sys.stderr)
    return {
        "correct": wl.failed == 0 and wl.checks_run > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }


def _write_record(args, wl, traced, setup) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    wl.tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".record.json", "w") as fh:
        json.dump({
            "setup_s": setup,
            "warm": wl.warm_log,
            "traced_cycles_s": [c.wall_s for c in traced],
            "layers": wl.layers(wl.tracer.spark, traced),
        }, fh, indent=1, default=str)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import building_energy_data_pipeline_spark  # noqa: F401 — fail early without the engine

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        result = run(args, work, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

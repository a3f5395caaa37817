"""The benchmark workloads.

Each workload object has:

- ``prepare(spark)`` — write its seeded inputs;
- ``warm(spark)`` — the untimed warm-up, with output checks; its steps
  and their times go to ``warm_log``. Inputs and warm-up both count in
  ``setup_s``;
- ``cycle(spark)`` — one timed cycle; returns a :class:`Cycle`;
- ``layers(spark, cycles)`` — the per-layer numbers of traced cycles.

A cycle is the workload's repeat unit: one pass over the query mix, or
one meter load + replay followed by two stream drains. Every operation
that raises, or whose output fails its check, counts as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing as tr


@dataclass
class Cycle:
    wall_s: float  # wall time of the whole cycle
    cpu_s: float  # CPU seconds the process tree used in it
    steps_ms: list[float]  # latencies of the workload's unit step
    ops: list[int]  # tracer operation ids of the cycle (traced run)
    parts: dict[str, float] = field(default_factory=dict)  # seconds per phase
    detail: dict = field(default_factory=dict)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _files_under(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    n = size = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _count_all_files(path: str) -> int:
    return sum(len(files) for _p, _d, files in os.walk(path))


class _Base:
    def __init__(self, work: str, seed: int, tiny: bool, tracer: tr.Tracer):
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks_run = 0
        self.warm_log: list[tuple[str, float]] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what[:300])

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: Headline queries in the mix: aggregation (q01), a three-way join
#: (q03), the as-of and range-join operators (q36, q48), text retrieval
#: through a persist slot (q148), and a build-heavy iterative query
#: with eager checkpoints and a persist slot (q118). The mix is a fixed
#: subset: a pass over all 54 headline queries takes 40-50 s warm on 4
#: cores, and their first, cold pass about twice that, longer than one
#: benchmark run may last.
QUERY_MIX = (
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q36_asof_join",
    "q48_range_join_bands",
    "q118_pagerank_train",
    "q148_bm25_retrieval",
)
#: Untimed ``noop`` passes after the oracle-checked first pass. Passes
#: at sf 0.1 on 4 cores took 25.9, 9.3, 6.9, 6.2 and 6.4 s: the first
#: timed pass, the third, is within about 10 % of the level, and one
#: more warm pass would not fit a run's time budget.
WARM_PASSES = 1


class QueryMix(_Base):
    """One closed-loop client running the query mix over seeded
    warehouse tables. Every query starts from released persist slots
    and runs to a ``noop`` sink."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.registry import REGISTRY

        self.caching = caching
        self.registry = REGISTRY
        self.tables = self._dir("tables")
        self.sf = 0.001 if self.tiny else 0.1
        self.rng = np.random.default_rng([self.seed, 11])

    def prepare(self, spark) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        gen.warehouse_tables(self.tables, self.seed, self.sf)

    def _run(self, spark, name: str) -> None:
        self.caching.release_caches()
        df = self.registry[name].spark(spark, self.tables)
        df.write.format("noop").mode("overwrite").save()

    def warm(self, spark) -> None:
        """A first pass that collects every query's result and checks it
        against the DuckDB oracle, then ``WARM_PASSES`` untimed passes
        to the ``noop`` sink as in the timed passes."""
        import checks

        con = checks.duck_con(self.tables)
        t0 = time.perf_counter()
        try:
            for name in self._order():
                self.attempted += 1
                try:
                    self.caching.release_caches()
                    got = self.registry[name].spark(spark, self.tables).toPandas()
                    want = con.execute(self.registry[name].oracle).fetchdf()
                    why = checks.compare(got, want)
                except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                    why = f"{type(exc).__name__}: {exc}"
                self.checks_run += 1
                if why:
                    self._fail(f"{name}: {why}")
        finally:
            con.close()
        self.caching.release_caches()
        self.warm_log.append(("checked pass", time.perf_counter() - t0))
        for _ in range(WARM_PASSES):
            self.warm_log.append(("pass", self.cycle(spark).wall_s))

    def _order(self) -> list[str]:
        return [QUERY_MIX[i] for i in self.rng.permutation(len(QUERY_MIX))]

    def cycle(self, spark) -> Cycle:
        steps, ops = [], []
        cpu0, t_cycle = tr.tree_cpu_s(), time.perf_counter()
        for name in self._order():
            self.attempted += 1
            try:
                if self.tracer.enabled:
                    ops.append(self._traced_query(spark, name))
                    steps.append(self._last_ms)
                else:
                    t0 = time.perf_counter()
                    self._run(spark, name)
                    steps.append((time.perf_counter() - t0) * 1e3)
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                self._fail(f"{name}: {type(exc).__name__}: {exc}")
        wall, cpu = time.perf_counter() - t_cycle, tr.tree_cpu_s() - cpu0
        self.caching.release_caches()
        return Cycle(wall, cpu, steps, ops)

    def _traced_query(self, spark, name: str) -> int:
        from building_energy_data_pipeline_spark.ops.observe import shuffle_count

        t = self.tracer
        op = t.new_op()
        t0 = time.perf_counter()
        self.caching.release_caches()
        with t.span("query", query=name) as q:
            with t.span("plans.build"):
                df = self.registry[name].spark(spark, self.tables)
            with t.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with t.span("operators.exec") as e:
                df.write.format("noop").mode("overwrite").save()
        self._last_ms = (time.perf_counter() - t0) * 1e3
        t.collect(op)
        q.attrs["exchanges"] = shuffle_count(df)
        e.attrs["cached_mb"] = sum(
            info.memSize() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        ) / 1e6
        return op

    def layers(self, spark, cycles: list[Cycle]) -> dict:
        t = self.tracer
        per_cycle = []
        for c in cycles:
            ops = set(c.ops)
            tot = t.totals(ops)
            spans = [s for s in t.spans if s.op in ops]
            # every job of a query counts as operator work, build-time ones too
            jobs = [s.attrs["stage"] for s in spans]

            def total(key, js=jobs):
                return sum(x[key] for x in js)

            per_cycle.append({
                "plans.build_s": tot.get("plans.build", 0.0),
                "plans.build_jobs": total("jobs", [s.attrs["stage"] for s in spans
                                                   if s.name == "plans.build"]),
                "plans.plan_s": tot.get("plans.plan", 0.0),
                "operators.exec_s": tot.get("operators.exec", 0.0),
                "operators.task_cpu_s": total("cpu_s"),
                "operators.task_run_s": total("run_s"),
                "operators.gc_s": total("gc_s"),
                "operators.jobs": total("jobs"),
                "operators.stages": total("stages"),
                "operators.tasks": total("tasks"),
                "operators.exchanges": sum(
                    s.attrs["exchanges"] for s in spans if s.name == "query"
                ),
                "operators.shuffle_write_mb": total("shuffle_write_mb"),
                "operators.shuffle_read_mb": total("shuffle_read_mb"),
                "operators.spill_mb": total("spill_mb"),
                "caching.cached_mb": max(
                    [s.attrs["cached_mb"] for s in spans if s.name == "operators.exec"] or [0]
                ),
            })
        queries = {}
        for s in t.spans:
            if s.name == "query":
                queries.setdefault(s.attrs["query"], []).append(s)
        kids = {}
        for s in t.spans:
            kids.setdefault(s.parent, []).append(s)
        detail = {
            name: {
                k.name: round(median([
                    sum(c.end - c.start for c in kids.get(q.id, []) if c.name == k.name)
                    for q in qs
                ]), 4)
                for k in kids.get(qs[0].id, [])
            }
            for name, qs in queries.items()
        }
        return {"cycles": per_cycle, "detail": {"per_query_s": detail}}


# ---------------------------------------------------------------------------
# ingest: the meter pipeline, then the two stream drains
# ---------------------------------------------------------------------------


class _MeterPhase:
    """The paper's batch pipeline: wide meter CSVs → melted parquet →
    profiled, gated, deduped, partitioned warehouse. In the warm-up,
    shard A is loaded into an empty warehouse, then replayed (the gate
    scans A and must reject it). Every cycle starts from the A-only
    warehouse, loads shard B (the gate scans A and passes), then
    replays B (the gate must reject it and write nothing)."""

    def __init__(self, owner: "Ingest"):
        from building_energy_data_pipeline_spark.pipeline import Pipeline

        self.o = owner
        self.Pipeline = Pipeline
        # full size: 40 buildings × 61 days, 234,240 melted rows a shard
        self.buildings, self.hours = (8, 48) if owner.tiny else (40, 1464)
        self.warehouse = owner._dir("warehouse")
        self.base = owner._dir("warehouse_A")

    def _pipeline(self, spark, shard: str):
        d = self.o._dir
        return self.Pipeline(spark, {
            "data_sources_path": d("src", shard),
            "parquet_output_path": d("parquet", shard),
            "warehouse_path": self.warehouse,
            "schemas_path": d("schemas", shard),
            "project_data": {"unique_columns": {"raw": ["timestamp", "building_id", "meter"]}},
        })

    def prepare(self, spark) -> None:
        shutil.rmtree(self.o._dir("src"), ignore_errors=True)
        self.truth = {
            s: gen.meter_shard(self.o._dir("src", s), self.o.seed, s, self.buildings, self.hours)
            for s in ("A", "B")
        }
        self.pipes = {s: self._pipeline(spark, s) for s in ("A", "B")}

    def warm(self, spark) -> None:
        """Load shard A into an empty warehouse (the gate has nothing to
        scan), replay it, and keep the A-only state for the cycles."""
        for p in (self.warehouse, self.base):
            shutil.rmtree(p, ignore_errors=True)
        a, log = self.pipes["A"], self.o.warm_log
        self._ops = []
        log.append(("load_A", self._step(
            "load_A", lambda: (a.transform_data(), a.load_data())[1], False) or 0.0))
        log.append(("replay_A", self._step("replay_A", a.load_data, True) or 0.0))
        shutil.copytree(self.warehouse, self.base)
        self.base_files = _files_under(os.path.join(self.base, "raw"))

    def _step(self, name: str, fn, expect_overlap: bool) -> float | None:
        o, t = self.o, self.o.tracer
        o.attempted += 1
        op = t.new_op()
        t0 = time.perf_counter()
        try:
            with t.span(name):
                res = fn()
        except Exception as exc:  # noqa: BLE001 — count it, keep measuring
            o._fail(f"{name}: {type(exc).__name__}: {exc}")
            return None
        dt = time.perf_counter() - t0
        if t.enabled:
            for sp in t.collect(op):
                if sp.name == "etl.gate":
                    sp.attrs["warehouse_rows"] = tr.scan_rows(t.spark, sp.attrs["jobs"], self.warehouse)
        self._ops.append(op)
        o.checks_run += 1
        if res["raw"].has_overlap != expect_overlap:
            o._fail(f"{name}: gate said overlap={res['raw'].has_overlap}")
        return dt

    def cycle(self, spark) -> dict:
        from pyspark.sql import functions as F

        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.base, self.warehouse)
        self._ops = []
        failed0 = self.o.failed
        b = self.pipes["B"]
        cpu0, t0 = tr.tree_cpu_s(), time.perf_counter()
        load_s = self._step("load_B", lambda: (b.transform_data(), b.load_data())[1], False)
        replay_s = self._step("replay_B", b.load_data, True)
        wall, cpu = time.perf_counter() - t0, tr.tree_cpu_s() - cpu0
        # output check, outside the timed cycle
        row = spark.read.parquet(os.path.join(self.warehouse, "raw")).agg(
            F.count("*").alias("n"), F.sum("meter_reading").alias("s")
        ).first()
        want_n = sum(t.rows for t in self.truth.values())
        want_s = sum(t.reading_sum for t in self.truth.values())
        self.o.checks_run += 1
        if row["n"] != want_n or not math.isclose(row["s"], want_s, rel_tol=1e-9):
            self.o._fail(f"warehouse holds {row['n']} rows, sum {row['s']}; want {want_n}, {want_s}")
        ok = self.o.failed == failed0
        return {"wall": wall, "cpu": cpu, "units": self.truth["B"].rows if ok else 0,
                "ops": list(self._ops), "load_s": load_s, "replay_s": replay_s,
                "files": _files_under(os.path.join(self.warehouse, "raw"))}

    def install_spans(self) -> None:
        """Wrap the pipeline's layer entry points with spans."""
        from building_energy_data_pipeline_spark import pipeline
        from building_energy_data_pipeline_spark.etl import loader

        t = self.o.tracer
        t.wrap(self.Pipeline, "transform_data", "etl.transform")
        t.wrap(pipeline, "profile_columns", "schema.profile")
        t.wrap(pipeline, "write_idempotent", "etl.load")
        t.wrap(loader, "check_data_overlap", "etl.gate")

    def layers(self, m: dict) -> dict:
        t = self.o.tracer
        ops = set(m["ops"])
        spans = [s for s in t.spans if s.op in ops]
        tot = t.totals(ops)

        def stage(name, key):
            return sum(s.attrs["stage"][key] for s in spans if s.name == name)

        n_files, n_bytes = m["files"]
        gates = [s for s in spans if s.name == "etl.gate"]
        return {
            "etl.batch_load_s": m["load_s"] or 0.0,
            "etl.replay_s": m["replay_s"] or 0.0,
            "etl.transform_s": tot.get("etl.transform", 0.0),
            "etl.transform_jobs": stage("etl.transform", "jobs"),
            "schema.profile_s": tot.get("schema.profile", 0.0),
            "etl.gate_s": tot.get("etl.gate", 0.0),
            "etl.gate_rows_read": sum(s.attrs["warehouse_rows"] for s in gates) / max(1, len(gates)),
            "etl.write_s": t.self_times(ops).get("etl.load", 0.0),
            "etl.shuffle_write_mb": stage("etl.load", "shuffle_write_mb"),
            "etl.files_written": n_files - self.base_files[0],
            "etl.bytes_per_row": (n_bytes - self.base_files[1]) / max(1, m["units"]),
        }


class _StreamPhase:
    """Long-format daily files drained twice with ``availableNow`` and
    one file per micro-batch: through the watermark dedup into a
    parquet sink (state-store idempotence), then through the
    ``foreachBatch`` anti-join sink (warehouse-read idempotence). Each
    round of the two drains starts from fresh sinks and checkpoints."""

    #: Untimed rounds of both drains before the timed ones. Successive
    #: rounds after the meter warm-up took, on 4 cores, 8.6, 5.7, 4.7,
    #: 4.7 s; 12.9, 6.7, 4.8, 4.7 s; and 10.4, 6.7, 6.9 s: from the
    #: third round on, drain time has stopped falling.
    WARM_ROUNDS = 2

    def __init__(self, owner: "Ingest"):
        from building_energy_data_pipeline_spark.streaming import ingest

        self.o = owner
        self.ingest = ingest
        self.n_files, self.buildings = (3, 20) if owner.tiny else (3, 300)
        self.src = owner._dir("stream_src")
        d = owner._dir
        self.dedup_out, self.dedup_ck = d("dedup_out"), d("dedup_ck")
        self.fb_out, self.fb_ck = d("fb_out"), d("fb_ck")

    def prepare(self, spark) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        self.distinct = gen.stream_files(
            self.src, self.o.seed, self.n_files, self.buildings
        )[1]

    def _drain(self, name: str, start):
        """Run one drain and time it from the call that starts the query
        to ``awaitTermination`` returning."""
        t = self.o.tracer
        op = t.new_op()
        with t.span(name) as sp:
            cpu0, t0 = tr.tree_cpu_s(), time.perf_counter()
            q = start()
            q.awaitTermination()
            dt = time.perf_counter() - t0
            self._cpu += tr.tree_cpu_s() - cpu0
        self._ops.append(op)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if sp is not None:  # stream jobs run in the query's own job group
            sp.attrs["jobs"] = tr.group_jobs(t.spark, str(q.runId))
            sp.attrs["stage"] = tr.job_metrics(t.spark, sp.attrs["jobs"])
            sp.attrs["warehouse_rows"] = tr.scan_rows(t.spark, sp.attrs["jobs"], self.fb_out)
        return q, dt

    def _start_dedup(self, spark):
        ing = self.ingest
        df = ing.dedup_stream(ing.read_meter_stream(spark, self.src, max_files_per_trigger=1))
        return lambda: ing.write_stream_parquet(df, self.dedup_out, self.dedup_ck)

    def _start_fb(self, spark):
        ing = self.ingest
        df = ing.read_meter_stream(spark, self.src, max_files_per_trigger=1)
        return lambda: ing.write_stream_idempotent(df, self.fb_out, "raw", ing.UNIQUE_KEYS, self.fb_ck)

    def cycle(self, spark) -> dict:
        for p in (self.dedup_out, self.dedup_ck, self.fb_out, self.fb_ck):
            shutil.rmtree(p, ignore_errors=True)
        self._ops, self._cpu = [], 0.0
        o = self.o
        steps, walls, progress = [], [], {}
        for name, starter, out in (("dedup", self._start_dedup, self.dedup_out),
                                   ("foreach_batch", self._start_fb, self.fb_out)):
            o.attempted += 1
            try:
                q, dt = self._drain(name, starter(spark))
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                o._fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            walls.append(dt)
            batches = [p for p in q.recentProgress if p.numInputRows > 0]
            steps += [p.durationMs["triggerExecution"] for p in batches]
            progress[name] = batches
            # output check, outside the timed drain
            o.checks_run += 1
            got = self._rows_and_keys(spark, out)
            if got != (self.distinct, self.distinct):
                o._fail(f"{name} sink holds (rows, keys)={got}, want {self.distinct} of each")
        return {"wall": sum(walls), "cpu": self._cpu, "steps": steps, "ops": list(self._ops),
                "progress": progress,
                "ck_files": _count_all_files(self.dedup_ck) + _count_all_files(self.fb_ck)}

    def _rows_and_keys(self, spark, path: str) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = spark.read.parquet(path).agg(
            F.count("*").alias("n"),
            F.count_distinct(*[F.col(k) for k in self.ingest.UNIQUE_KEYS]).alias("k"),
        ).first()
        return row["n"], row["k"]

    def rerun_check(self, spark) -> None:
        """A second start of the foreachBatch drain over its own
        checkpoint must append nothing."""
        o = self.o
        o.attempted += 1
        o.checks_run += 1
        before = _files_under(self.fb_out)
        self._ops, self._cpu = [], 0.0
        try:
            self._drain("foreach_batch_rerun", self._start_fb(spark))
        except Exception as exc:  # noqa: BLE001 — count it, keep measuring
            o._fail(f"rerun: {type(exc).__name__}: {exc}")
            return
        if _files_under(self.fb_out) != before:
            o._fail("re-running the foreachBatch drain over its checkpoint appended files")

    def layers(self, s: dict) -> dict:
        dbatches = s["progress"].get("dedup", [])
        fbatches = s["progress"].get("foreach_batch", [])
        dm = [dict(p.durationMs) for p in dbatches + fbatches]
        state = [op for p in dbatches for op in p.stateOperators]
        last_state = dbatches[-1].stateOperators if dbatches else []
        fb_rows = [sp.attrs["warehouse_rows"] for sp in self.o.tracer.spans
                   if sp.op in set(s["ops"]) and sp.name == "foreach_batch"]
        dedup_in = sum(p.numInputRows for p in dbatches)
        return {
            "streaming.add_batch_ms": median([d.get("addBatch", 0) for d in dm]),
            "streaming.plan_ms": median([d.get("queryPlanning", 0) for d in dm]),
            "streaming.offsets_ms": median([
                d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)
                for d in dm
            ]),
            "streaming.state_rows": sum(op.numRowsTotal for op in last_state),
            "streaming.state_mem_mb": sum(op.memoryUsedBytes for op in last_state) / 1e6,
            "streaming.state_commit_ms": median([op.commitTimeMs for op in state]),
            "streaming.checkpoint_files": s["ck_files"],
            "streaming.antijoin_rows_read": sum(fb_rows) / max(1, len(fbatches)),
            "streaming.dedup_ratio": self.distinct / dedup_in if dedup_in else 0.0,
        }


class Ingest(_Base):
    """The paper's two ingest paths in one cycle: the batch meter
    pipeline (load B, replay B), then the two stream drains. The step
    whose latency is reported is the stream micro-batch."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.meter = _MeterPhase(self)
        self.stream = _StreamPhase(self)

    def prepare(self, spark) -> None:
        self.meter.prepare(spark)
        self.stream.prepare(spark)

    def warm(self, spark) -> None:
        self.meter.warm(spark)
        for _ in range(self.stream.WARM_ROUNDS):
            self.warm_log.append(("drains", self.stream.cycle(spark)["wall"]))
        self.stream.rerun_check(spark)

    def cycle(self, spark) -> Cycle:
        m = self.meter.cycle(spark)
        s = self.stream.cycle(spark)
        return Cycle(m["wall"] + s["wall"], m["cpu"] + s["cpu"], s["steps"],
                     m["ops"] + s["ops"],
                     parts={"load_B": m["load_s"] or 0.0, "replay_B": m["replay_s"] or 0.0,
                            "drains": s["wall"]},
                     detail={"meter": m, "stream": s})

    def install_spans(self) -> None:
        self.meter.install_spans()

    def layers(self, spark, cycles: list[Cycle]) -> dict:
        rows = [{**self.meter.layers(c.detail["meter"]), **self.stream.layers(c.detail["stream"])}
                for c in cycles]
        return {"cycles": rows, "detail": {}}


WORKLOADS = {"query_mix": QueryMix, "ingest": Ingest}

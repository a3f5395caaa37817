"""Small data stays on the driver: ``scale.local_frame`` constant
tables and PageRank's size-gated driver loop (``graph.pagerank``).

- the driver loop and the Spark loop return bit-identical ranks, and
  both hash-match the DuckDB twin (``autoBroadcastJoinThreshold=-1``
  forces the Spark loop);
- ``graph.dec18_units`` agrees with Spark's ``CAST(x AS
  DECIMAL(38,18))`` on sampled contributions;
- every converted constant-table site builds a ``LocalRelation``, and
  q118's build runs a handful of jobs instead of one per round.
"""

from __future__ import annotations

import os
import random
from decimal import Decimal

import duckdb
import pandas as pd
import pytest
from conftest import SF_DIR, SF_DIR_MED
from test_oracle_parity import canon, duck_con

from building_energy_data_pipeline_spark import caching
from building_energy_data_pipeline_spark.operators import graph, scale
from building_energy_data_pipeline_spark.ops.sessionctl import run_in_job_group
from building_energy_data_pipeline_spark.plans.llm_queries import _q118_oracle
from building_energy_data_pipeline_spark.plans.queries import REGISTRY

SF_DIR_BIG = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
EDGE_DDL = "w1 string, w2 string, c long"


def _both_paths(spark, build):
    """``build()`` collected under the session's broadcast bar (driver
    path) and with the bar off (Spark path), caches cold each time."""
    out = {}
    bar = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for label, value in (("driver", bar), ("spark", "-1")):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
            caching.release_caches()
            out[label] = build().toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bar)
        caching.release_caches()
    return out["driver"], out["spark"]


def _duck_ranks(rows, iters):
    """q118's DuckDB twin, unrolled ``iters`` rounds over an explicit
    ``(w1, w2, c)`` edge table instead of the corpus bigrams."""
    sql = _q118_oracle(iters)
    sql = "WITH " + sql[sql.index("o AS (SELECT w1"):]
    con = duckdb.connect()
    con.execute("CREATE TABLE e (w1 VARCHAR, w2 VARCHAR, c BIGINT)")
    if rows:
        con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)
    got = con.execute(sql).fetchdf()
    return got.rename(columns={"token": "node", f"rank{iters}": "rank"})


def _ranks(df: pd.DataFrame) -> dict:
    return dict(zip(df["node"], df["rank"]))


class TestPagerankPaths:
    @pytest.mark.parametrize(
        "sf",
        [SF_DIR, SF_DIR_MED, SF_DIR_BIG],
        ids=["sf0.001", "sf0.01", "sf0.1"],
    )
    def test_q118_paths_match_each_other_and_duckdb(self, spark, sf):
        spec = REGISTRY["q118_pagerank_train"]
        driver, dist = _both_paths(spark, lambda: spec.spark(spark, sf))
        want = canon(duck_con(sf).execute(spec.oracle).fetchdf())
        assert len(driver) > 0
        assert canon(driver) == canon(dist) == want

    def test_converging_run_matches_duckdb_at_its_stopping_round(self, spark):
        # a 7-node ring with one chord plus a source-only node: the
        # ring mixes slowly, so the run stops at round 26; the DuckDB
        # twin materializes each round, so its cost grows linearly
        ring = "abcdefg"
        rows = [(u, v, 1) for u, v in zip(ring, ring[1:] + ring[0])] + [
            ("a", "d", 1),
            ("s", "a", 2),
        ]
        tol, max_iter = 1e-3, 40
        driver, dist = _both_paths(
            spark,
            lambda: graph.pagerank(
                spark.createDataFrame(rows, EDGE_DDL),
                max_iter=max_iter,
                tol=tol,
            ),
        )
        assert _ranks(driver) == _ranks(dist)
        # the stopping round, from DuckDB's own rounds: the first whose
        # max |Δrank| is under tol
        prev = _ranks(_duck_ranks(rows, 0))
        for j in range(1, max_iter + 1):
            cur = _ranks(_duck_ranks(rows, j))
            if max(abs(cur[k] - prev[k]) for k in cur) < tol:
                break
            prev = cur
        assert 25 <= j < max_iter, "the case must run past 25 rounds and stop early"
        assert _ranks(driver) == cur

    def test_self_loop_and_source_only_node(self, spark):
        # 'a' feeds itself; 's' has out-edges only and keeps the base rank
        rows = [("a", "a", 2), ("a", "b", 1), ("b", "a", 1), ("s", "a", 3)]
        driver, dist = _both_paths(
            spark,
            lambda: graph.pagerank(
                spark.createDataFrame(rows, EDGE_DDL), max_iter=3, tol=0.0
            ),
        )
        want = _ranks(_duck_ranks(rows, 3))
        assert _ranks(driver) == _ranks(dist) == want
        assert want["s"] == (1.0 - 0.85) / 3

    def test_empty_graph(self, spark):
        driver, dist = _both_paths(
            spark,
            lambda: graph.pagerank(spark.createDataFrame([], EDGE_DDL)),
        )
        assert len(driver) == len(dist) == len(_duck_ranks([], 2)) == 0
        assert list(driver.columns) == list(dist.columns) == ["node", "rank"]


def _random_doubles(n: int, seed: int) -> list[float]:
    """Doubles in and around PageRank's contribution range, weighted
    toward the cases where the cast is easy to get wrong: E-form
    values below 1e-3, dyadic fractions, powers of two (where JDK 17's
    ``Double.toString`` is not the shortest ``repr``), and decimal
    ties at the 19th place (HALF_UP vs HALF_EVEN)."""
    rnd = random.Random(seed)
    kinds = [
        lambda: rnd.random() * rnd.random(),
        lambda: rnd.random() ** rnd.randint(2, 6),
        lambda: rnd.randint(1, 2**20) / 2 ** rnd.randint(1, 40),
        lambda: float(f"0.{rnd.randint(0, 10**16):016d}5")
        * 10 ** -rnd.randint(0, 3),
        lambda: -rnd.random() * rnd.randint(1, 10**6),
        lambda: rnd.random() * 10 ** -rnd.randint(3, 19),
        # powers of two: Double.toString prints more digits than repr
        lambda: 2.0 ** -rnd.randint(1, 70),
    ]
    return [kinds[i % len(kinds)]() for i in range(n)]


def test_dec18_units_matches_spark_cast(spark):
    xs = _random_doubles(12_000, seed=20261018)
    cast = (
        scale.local_frame(spark, list(enumerate(xs)), "i int, x double")
        .selectExpr("i", "CAST(x AS DECIMAL(38,18)) AS d")
        .collect()
    )
    want = {r["i"]: int(r["d"].scaleb(18)) for r in cast}
    got = [graph.dec18_units(x) for x in xs]
    bad = [
        (x, Decimal(want[i]).scaleb(-18), Decimal(got[i]).scaleb(-18))
        for i, x in enumerate(xs)
        if got[i] != want[i]
    ]
    assert not bad, f"{len(bad)} of {len(xs)} differ, e.g. {bad[:3]}"


def test_dec18_units_rejects_values_it_does_not_model():
    for x in (float("nan"), float("inf"), 2.0**60):
        with pytest.raises(ValueError):
            graph.dec18_units(x)


class TestPlanPins:
    def test_q118_builds_a_local_relation_in_a_few_jobs(self, spark):
        caching.release_caches()
        df = run_in_job_group(
            spark,
            "test-q118-build",
            lambda: REGISTRY["q118_pagerank_train"].spark(spark, SF_DIR_BIG),
        )
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "test-q118-build"
        )
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        assert leaves.size() == 1
        assert leaves.head().getClass().getSimpleName() == "LocalRelation"
        assert 0 < len(jobs) <= 5, f"q118 build ran {len(jobs)} jobs"
        caching.release_caches()

    @pytest.mark.parametrize(
        "site, cols",
        [
            ("q48_bands", ["band", "lo", "hi"]),
            ("global_row_index_offsets", ["__pid", "__off"]),
            ("global_running_sum_offsets", ["__pid", "__off"]),
            ("q115_empty_base", ["user_id", "event_type", "value", "version"]),
            ("q186_seed", ["event_type", "cs0", "rmin0"]),
            ("q186_result", ["event_type", "n", "max_s", "n_alerts"]),
            ("q94_footer_rowcounts", ["table_name", "n_rows"]),
            ("q179_kcore_report", ["round", "n_nodes", "n_edges"]),
            ("q244_shapley_terms", ["ch", "s", "su", "w24"]),
            (
                "access_audit",
                ["rolname", "rolsuper", "rolcanlogin", "memberof",
                 "privileges"],
            ),
            ("access_table_privileges", ["grantee", "privileges"]),
        ],
    )
    def test_constant_table_site_is_a_local_relation(
        self, spark, sf_dir, tmp_path, monkeypatch, site, cols
    ):
        built = []
        real = scale.local_frame

        def spy(*args, **kwargs):
            df = real(*args, **kwargs)
            plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
            built.append((df.columns, plan.getClass().getSimpleName()))
            return df

        monkeypatch.setattr(scale, "local_frame", spy)
        _run_site(spark, sf_dir, tmp_path, site)
        assert (cols, "LocalRelation") in built, built


def _run_site(spark, sf_dir, tmp_path, site):
    from building_energy_data_pipeline_spark.ops import AccessControl

    query = {
        "q48_bands": "q48_range_join_bands",
        "q115_empty_base": "q115_streaming_cdc_apply",
        "q186_seed": "q186_streaming_cusum",
        "q186_result": "q186_streaming_cusum",
        "q94_footer_rowcounts": "q94_footer_rowcounts",
        "q179_kcore_report": "q179_kcore_peeling",
        "q244_shapley_terms": "q244_shapley_attribution",
    }
    caching.release_caches()
    if site in query:
        REGISTRY[query[site]].spark(spark, sf_dir)
    elif site == "global_row_index_offsets":
        scale.global_row_index(spark.range(50), ["id"])
    elif site == "global_running_sum_offsets":
        scale.global_running_sum(spark.range(50), ["id"], "id")
    else:
        acl = AccessControl(str(tmp_path / "acl.json"))
        acl.create_role("analyst")
        acl.grant("SELECT", "orders", "analyst")
        if site == "access_audit":
            acl.audit_user_permissions(spark)
        else:
            acl.get_table_access_privileges(spark, "orders")
    caching.release_caches()

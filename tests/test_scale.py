"""Scale-technique tests asserting PLAN SHAPE, not just results:
bucketed joins must not re-shuffle; salted joins must spread a hot
key across salt partitions and still produce exact join results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from building_energy_data_pipeline_spark.operators.scale import (
    salted_join,
    write_bucketed,
)
from building_energy_data_pipeline_spark.ops import explain_str


class TestBucketing:
    @pytest.fixture()
    def bucketed_pair(self, spark):
        # warehouse dir is a tmp dir set at session build (conftest)
        facts = spark.range(1_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        dims = spark.range(50).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("name")
        )
        write_bucketed(facts, "facts_b", ["k"], num_buckets=8)
        write_bucketed(dims, "dims_b", ["k"], num_buckets=8)
        yield spark.table("facts_b"), spark.table("dims_b")
        spark.sql("DROP TABLE IF EXISTS facts_b")
        spark.sql("DROP TABLE IF EXISTS dims_b")

    def test_bucketed_join_is_exchange_free(self, spark, bucketed_pair):
        facts, dims = bucketed_pair
        # disable auto-broadcast so the join would normally shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = facts.join(dims, "k")
            plan = explain_str(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == 1_000
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )

    def test_bucketed_agg_is_exchange_free(self, spark, bucketed_pair):
        facts, _ = bucketed_pair
        plan = explain_str(facts.groupBy("k").agg(F.sum("v")))
        assert "Exchange" not in plan, plan


class TestSalting:
    def test_salted_join_matches_plain_join(self, spark):
        # one hot key (90% of rows) + a uniform tail
        skewed = spark.range(10_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("n"), "id").alias("name")
        )
        plain = skewed.join(small, ["k"]).agg(
            F.count("*"), F.sum("v")
        ).first()
        salted = salted_join(skewed, small, ["k"], salt=8).agg(
            F.count("*"), F.sum("v")
        ).first()
        assert plain == salted

    def test_salted_join_rejects_right_and_full_outer(self, spark):
        # ADVICE r7 (low): the small side is replicated salt×, so a
        # right/full outer join would emit `salt` null-extended
        # copies of every unmatched small-side row — guard, like
        # hot_salted_join
        import pytest

        df = spark.range(10).select(F.col("id").alias("k"))
        for how in ("right", "full", "outer", "full_outer"):
            with pytest.raises(ValueError):
                salted_join(df, df, ["k"], how=how)
        # every Spark spelling of the safe modes stays supported —
        # the guard must not reject valid aliases (r8 review #5)
        sk = spark.range(5).select(F.col("id").alias("k"))
        sm = spark.range(2).select(
            F.col("id").alias("k"), F.lit("x").alias("name")
        )
        for how, want in (
            ("left", 5),
            ("leftouter", 5),
            ("left_outer", 5),
            ("semi", 2),
            ("leftsemi", 2),
            ("left_semi", 2),
            ("anti", 3),
            ("leftanti", 3),
            ("left_anti", 3),
            ("inner", 2),
        ):
            assert salted_join(sk, sm, ["k"], salt=4, how=how).count() == want, how

    def test_salt_spreads_hot_key(self, spark):
        hot = spark.range(1_000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
        small = spark.range(1).select(F.col("id").alias("k"))
        out = salted_join(hot, small, ["k"], salt=8)
        # the hot key's rows now carry ≥ 4 distinct salt partitions
        n_salts = (
            hot.withColumn(
                "__salt",
                F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8)),
            )
            .select("__salt")
            .distinct()
            .count()
        )
        assert n_salts >= 4
        assert out.count() == 1_000


class TestLshShufflePayload:
    """The LSH band self-join must move slim (id, band_key) rows only
    — exploding the shingle/sig arrays onto every band row multiplies
    the corpus' array bytes by `bands` on the shuffle wire, which
    dominates the job at scale."""

    @pytest.mark.parametrize(
        "name", ["q28_minhash_lsh_pairs", "q90_incremental_dedup"]
    )
    def test_band_explode_carries_no_arrays(self, spark, sf_dir, name):
        import re

        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        df = REGISTRY[name].spark(spark, sf_dir)
        plan = explain_str(df)
        body = plan.split("== Physical Plan ==")[-1]
        # every Generate that explodes band_keys must read exactly
        # (id, band_keys) — the old fat form read 4 columns
        # (id, shingles, sig, band_keys) and shipped the arrays on
        # every exploded band row
        blocks = re.findall(
            r"\(\d+\) Generate[^\n]*\nInput \[(\d+)\][^\n]*\n"
            r"Arguments: explode\w*\(band_keys",
            body,
        )
        assert blocks, f"{name}: no band-key Generate found in plan"
        for width in blocks:
            assert int(width) == 2, (
                f"{name}: band explode reads {width} columns — arrays "
                "are riding the band join again"
            )

    @pytest.mark.parametrize(
        "name", ["q28_minhash_lsh_pairs", "q90_incremental_dedup"]
    )
    def test_no_pinned_band_exchange(self, spark, sf_dir, name):
        # r14: the pinned repartition(bk) is gone — it shuffled the
        # exploded band rows once per self-join branch while the
        # persist-slot staging already shares the signature
        # materialization (and the planner broadcast one side anyway).
        # A reappearing hashpartitioning(bk…) exchange means the dead
        # pin came back, or a refactor lost the slot staging and the
        # planner re-shuffled slim per branch.
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        df = REGISTRY[name].spark(spark, sf_dir)
        plan = explain_str(df)
        body = plan.split("== Physical Plan ==")[-1]
        # the claim holds in the broadcast regime only: once the band
        # join goes shuffled (a larger scale factor, a lower
        # autoBroadcastJoinThreshold) the planner's own bk exchange is
        # the correct plan — so first pin that this IS that regime
        assert "BroadcastHashJoin" in body or "BroadcastExchange" in body, (
            f"{name}: no broadcast in the plan — the fixture is no "
            "longer in the regime this test pins"
        )
        assert "hashpartitioning(bk" not in body, (
            f"{name}: a band-key exchange reappeared — the removed "
            "repartition(bk) pin is back (or slot staging was lost)"
        )

    def test_q28_single_signature_computation(self, spark, sf_dir):
        # all four consumers (two slim band branches, two payload
        # lookups) must read ONE persisted signature table (the
        # caching.slot_persist slot) — the plan shows InMemoryTableScan
        # leaves over a single parquet scan, never a re-run of the
        # md5 signature pipeline per consumer
        from building_energy_data_pipeline_spark.caching import (
            release_caches,
        )
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        df = REGISTRY["q28_minhash_lsh_pairs"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in plan
        assert "InMemoryTableScan" in final, (
            "signature table is not read through the persist slot"
        )
        assert final.count("Scan parquet") == 1, (
            "signature pipeline re-scanned the table instead of "
            "reusing the persisted signature slot"
        )

        # warm-path: an identical re-invocation must serve the SAME
        # persisted frame from the slot (object identity — ADVICE r4
        # #4: semanticHash equality is trivially true for two
        # identical builds and proves nothing about the cache)
        from building_energy_data_pipeline_spark import caching

        _, slot_frame_before = caching._CACHE_SLOTS[
            "dedup.minhash_lsh_pairs"
        ]
        REGISTRY["q28_minhash_lsh_pairs"].spark(spark, sf_dir)
        _, slot_frame_after = caching._CACHE_SLOTS[
            "dedup.minhash_lsh_pairs"
        ]
        assert slot_frame_after is slot_frame_before, (
            "re-invocation re-persisted the signature table instead "
            "of serving the warm slot"
        )
        release_caches()


class TestCacheDiscipline:
    def test_no_pinned_rdds_after_registry_sweep(self, spark, sf_dir):
        """global_row_index is cacheless by design (in-plan offsets —
        see its docstring); the window persist slots must not creep:
        after repeated invocations plus a release sweep, the session
        is back to its pre-test cached-RDD set."""
        from building_energy_data_pipeline_spark.plans import (
            REGISTRY,
            window_queries,
        )

        jsc = spark.sparkContext._jsc.sc()
        window_queries.release_caches()
        baseline = len(jsc.getRDDStorageInfo())

        # row-index queries checkpoint their ranged intermediate; the
        # storage is owned by the JVM ContextCleaner through plan
        # references — once the results are unreachable, GC must
        # reclaim it without any manual release call
        import gc
        import time

        for _ in range(2):
            for name in ("q22_pagination", "q23_systematic_sample"):
                REGISTRY[name].spark(spark, sf_dir).count()
        gc.collect()
        for _ in range(30):  # ContextCleaner is async
            spark.sparkContext._jvm.System.gc()
            if len(jsc.getRDDStorageInfo()) <= baseline:
                break
            time.sleep(1)
        assert len(jsc.getRDDStorageInfo()) <= baseline, (
            "global_row_index checkpoints were not GC-reclaimed"
        )

        # window rollup slots: bounded at one per query, not per call
        slot_users = ["q73_gapfill_locf", "q74_continuous_aggregate"]
        for _ in range(2):
            for name in slot_users:
                REGISTRY[name].spark(spark, sf_dir).count()
        assert len(jsc.getRDDStorageInfo()) - baseline <= len(slot_users)

        window_queries.release_caches()
        assert len(jsc.getRDDStorageInfo()) <= baseline, (
            "cached RDDs survived the release sweep"
        )

    def test_row_index_survives_interleaved_builds(self, spark):
        """Regression (round-4 review): with the old persisted-
        intermediate + eager-offsets design, building a second
        identical row-index evicted the first one's cache, and the
        first result then recomputed with RE-SAMPLED range boundaries
        against its stale offsets — duplicate/missing indices. The
        in-plan-offsets design has no cross-invocation state: build
        two, execute in any order, both must be exact permutations."""
        from building_energy_data_pipeline_spark.operators.scale import (
            global_row_index,
        )

        df = spark.range(100_000).withColumn(
            "k", (F.col("id") * 2654435761) % 1000003
        )
        a = global_row_index(df, ["k", "id"], "rn", num_partitions=16)
        b = global_row_index(df, ["k", "id"], "rn", num_partitions=16)
        for out in (a, b, a):  # re-execute a after b ran
            stats = out.agg(
                F.count("*").alias("n"),
                F.countDistinct("rn").alias("d"),
                F.min("rn").alias("lo"),
                F.max("rn").alias("hi"),
            ).first()
            assert (
                stats["n"] == 100_000
                and stats["d"] == 100_000
                and stats["lo"] == 1
                and stats["hi"] == 100_000
            ), f"row index corrupted: {stats}"


class TestSpreadScan:
    def test_single_split_input_fans_out(self, spark, sf_dir):
        from building_energy_data_pipeline_spark.operators.scale import (
            spread_scan,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        assert li.rdd.getNumPartitions() == 1  # testdata contract
        out = spread_scan(li, cols=["l_orderkey", "l_quantity"])
        cores = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == cores
        assert out.columns == ["l_orderkey", "l_quantity"]

    def test_wide_input_is_a_noop(self, spark):
        from building_energy_data_pipeline_spark.operators.scale import (
            spread_scan,
        )

        cores = spark.sparkContext.defaultParallelism
        df = spark.range(0, 10_000, 1, numPartitions=cores * 4)
        out = spread_scan(df)
        # already-parallel input must NOT gain an exchange
        assert out.rdd.getNumPartitions() == cores * 4
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    def test_by_key_partitioning_feeds_downstream_groupby(self, spark, sf_dir):
        from building_energy_data_pipeline_spark.operators.scale import (
            spread_scan,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = spread_scan(li, cols=["l_orderkey", "l_quantity"], by=["l_orderkey"])
        agg = out.groupBy("l_orderkey").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # exactly ONE exchange: the spread's hashpartitioning satisfies
        # the groupBy's distribution, so no second shuffle appears
        assert plan.count("Exchange hashpartitioning") == 1


class TestSlotPersistHardening:
    def test_warm_hit_heals_unpersisted_slot(self, spark):
        # the documented caller contract allows unpersisting the
        # returned frame after the action; the next identical
        # invocation must re-persist, not serve a dead cache forever
        from building_energy_data_pipeline_spark.caching import (
            release_caches,
            slot_persist,
        )

        df = spark.range(1000).selectExpr("id", "id * 2 AS v")
        a = slot_persist("t.heal", df)
        a.count()
        a.unpersist()
        b = slot_persist("t.heal", spark.range(1000).selectExpr("id", "id * 2 AS v"))
        lvl = b.storageLevel
        assert lvl.useMemory or lvl.useDisk, "slot did not re-persist"
        release_caches()

    def test_reuse_false_replaces_snapshot(self, spark, tmp_path):
        # incremental dedup contract: a path-identical plan must NOT
        # warm-hit a pre-append snapshot when reuse=False
        from building_energy_data_pipeline_spark.caching import (
            release_caches,
            slot_persist,
        )

        p = str(tmp_path / "grow")
        spark.range(10).write.mode("overwrite").parquet(p)
        a = slot_persist("t.grow", spark.read.parquet(p), reuse=False)
        assert a.count() == 10
        spark.range(90).write.mode("append").parquet(p)
        b = slot_persist("t.grow", spark.read.parquet(p), reuse=False)
        assert b.count() == 100, "stale snapshot served after append"
        release_caches()

    def test_slot_lookup_explicit_sig_contract(self, spark, tmp_path):
        # check-before-compute path: a hit requires the SAME explicit
        # signature; changed hyper-params or a regenerated input
        # directory must miss (plan_sig folds in the file listing)
        from building_energy_data_pipeline_spark.caching import (
            plan_sig,
            release_caches,
            slot_lookup,
            slot_persist,
        )

        p = str(tmp_path / "corpus")
        spark.range(50).selectExpr("id", "id * 3 AS v").write.mode(
            "overwrite"
        ).parquet(p)
        src = spark.read.parquet(p)
        sig = plan_sig(src, 8, "fit")
        assert slot_lookup("t.trained", sig, spark) is None  # empty slot
        out = slot_persist("t.trained", src.groupBy().count(), sig=sig)
        assert slot_lookup("t.trained", sig, spark) is out
        assert slot_lookup("t.trained", plan_sig(src, 9, "fit"), spark) is None
        # rebuilt-in-place input → new part-file names → sig changes
        spark.range(50).selectExpr("id", "id * 3 AS v").write.mode(
            "overwrite"
        ).parquet(p)
        stale = plan_sig(spark.read.parquet(p), 8, "fit")
        assert stale != sig and slot_lookup("t.trained", stale, spark) is None
        assert slot_lookup("t.trained", None, spark) is None
        release_caches()

    def test_kmeans_train_slot_runs_loop_once(self, spark, sf_dir):
        # train-once-reuse: the second identical invocation must NOT
        # re-run the Lloyd loop (counted via kmeans_step), and a
        # changed hyper-parameter must retrain
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.operators import similarity

        caching.release_caches()
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        calls = {"n": 0}
        real_step = similarity.kmeans_step

        def counting_step(*a, **kw):
            calls["n"] += 1
            return real_step(*a, **kw)

        similarity.kmeans_step = counting_step
        try:
            a = similarity.kmeans_train(
                emb, 3, max_iter=2, tol=0.0, slot="t.kmeans"
            )
            assert calls["n"] == 2
            b = similarity.kmeans_train(
                emb, 3, max_iter=2, tol=0.0, slot="t.kmeans"
            )
            assert b is a, "warm hit should return the slot frame"
            assert calls["n"] == 2, "loop re-ran on a warm hit"
            c = similarity.kmeans_train(
                emb, 4, max_iter=2, tol=0.0, slot="t.kmeans"
            )
            assert calls["n"] == 4, "changed k must retrain"
            assert c.count() == 4
        finally:
            similarity.kmeans_step = real_step
            caching.release_caches()

    def test_pagerank_slot_reuses_trained_ranks(self, spark, tmp_path):
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.operators import graph

        caching.release_caches()
        p = str(tmp_path / "edges")
        spark.createDataFrame(
            [("a", "b", 2), ("b", "c", 1), ("c", "a", 1)],
            "w1 string, w2 string, c int",
        ).write.parquet(p)
        edges = spark.read.parquet(p)
        a = graph.pagerank(edges, max_iter=2, tol=0.0, slot="t.pr")
        b = graph.pagerank(edges, max_iter=2, tol=0.0, slot="t.pr")
        assert b is a, "warm hit should return the slot frame"
        c = graph.pagerank(edges, max_iter=3, tol=0.0, slot="t.pr")
        assert c is not a, "changed budget must retrain"
        caching.release_caches()


class TestSourceShingleSlot:
    def test_q30_q123_share_one_staged_shingle_table(self, spark, sf_dir):
        """The source-blocked pair queries must read ONE persisted
        shingle table: self-join re-aliasing breaks exchange
        canonicalization (verified under broadcast AND sort-merge
        strategies), so without the slot the corpus is scanned and
        shingled twice per query."""
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        caching.release_caches()
        df = REGISTRY["q30_ngram_jaccard"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "InMemoryTableScan" in final
        assert final.count("Scan parquet") == 1, (
            "shingle pipeline re-scanned the corpus instead of "
            "reusing the persisted slot"
        )
        _, slot_frame = caching._CACHE_SLOTS["dedup.source_shingles"]
        # q123 builds the identical staged plan → same warm slot
        REGISTRY["q123_containment_pairs"].spark(spark, sf_dir).collect()
        _, slot_after = caching._CACHE_SLOTS["dedup.source_shingles"]
        assert slot_after is slot_frame, (
            "q123 re-persisted the shingle table instead of sharing "
            "q30's warm slot"
        )
        caching.release_caches()


class TestAssignCentroidsMapOnly:
    def test_nprobe1_assignment_is_exchange_free(self, spark, sf_dir):
        """The corpus-partitioning assignment (every Lloyd round,
        every IVF build) must be MAP-ONLY: k centroids collapse to
        one broadcast row and the argmax folds inside the
        projection. The old row_number window shuffled n×k rows
        each carrying two embedded vectors — at corpus scale that
        exchange dwarfs the arithmetic it ranked."""
        from building_energy_data_pipeline_spark.operators import (
            similarity,
        )
        from building_energy_data_pipeline_spark.sources.readers import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = emb.orderBy("vec_id").limit(4)
        assigned = similarity.assign_centroids(emb, cents)
        plan = explain_str(assigned)
        final = plan.split("== Initial Plan ==")[0]
        assert "Window" not in final, final
        # the only exchange allowed is the broadcast of the packed
        # 1-row centroid frame
        import re

        non_broadcast = [
            ln
            for ln in final.splitlines()
            if "Exchange" in ln and "Broadcast" not in ln
        ]
        assert not non_broadcast, non_broadcast
        # nprobe>1 (query-side multi-probe) keeps the window form
        probed = similarity.assign_centroids(emb, cents, nprobe=2)
        assert "Window" in explain_str(probed)
        assert assigned.count() == emb.count()


class TestCovarianceSingleScan:
    def test_q143_reads_corpus_once(self, spark, sf_dir):
        """Pair moments and BOTH per-dimension lookups must read the
        slot-staged moment table — re-aliased self-joins defeat
        subtree reuse, so without the slot the corpus-sized explode
        runs three times."""
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        caching.release_caches()
        df = REGISTRY["q143_embedding_covariance"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df).split("== Initial Plan ==")[0]
        assert plan.count("Scan parquet") == 1, plan
        assert "InMemoryTableScan" in plan
        caching.release_caches()


class TestRound5LateQueryShapes:
    """Plan-shape pins for q148-q151's docstring scale claims."""

    def test_q148_tokenizes_once_via_slot(self, spark, sf_dir):
        """The tf projection must be slot-staged: the stats aggregate
        and the scorer both read the cached frame, so the corpus
        text is tokenized exactly once."""
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        caching.release_caches()
        df = REGISTRY["q148_bm25_retrieval"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df).split("== Initial Plan ==")[0]
        # the single Scan parquet is the slot's own build plan; both
        # consumers read the cache
        assert plan.count("Scan parquet") == 1, plan
        assert "InMemoryTableScan" in plan
        caching.release_caches()

    def test_q149_selection_is_map_only_and_pair_join_slim(
        self, spark, sf_dir
    ):
        """The fingerprint selection must be a pure projection — no
        Window operator, no exchange before the slot — and the pair
        self-join must exchange only (fp, doc_id) rows, never gram
        strings or token arrays (q28's slim band join contract)."""
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        caching.release_caches()
        df = REGISTRY["q149_winnowing_pairs"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df).split("== Initial Plan ==")[0]
        assert "Window" not in plan
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "gram" not in ln and "toks" not in ln, ln
        # the slot's build plan (the one Scan parquet) must contain
        # no exchange besides spread_scan's round-robin fan-out
        caching.release_caches()

    def test_q150_reads_corpus_once(self, spark, sf_dir):
        """One corpus scan builds the slot-staged Gram moments; the
        u1 intermediate is checkpointed (two consumers), so the final
        plan reads the checkpoint + the cache — the corpus file and
        the pair explode never re-run. The only windows are the
        lit(0) max-rescales over d rows (bounded by dimensionality,
        never data-scaled)."""
        from building_energy_data_pipeline_spark import caching
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        caching.release_caches()
        df = REGISTRY["q150_power_iteration"].spark(spark, sf_dir)
        df.collect()
        plan = explain_str(df).split("== Initial Plan ==")[0]
        # the single Scan parquet is the slot's own build plan
        # (explain prints the cached relation's child once); u1's
        # checkpoint contributes none
        assert plan.count("Scan parquet") == 1, plan
        assert "InMemoryTableScan" in plan
        # every window in the plan is the bounded lit(0) rescale:
        # all specs partition on the literal 0, none on a data column
        full = explain_str(df)
        specs = [
            full[m.start() : m.start() + 80]
            for m in __import__("re").finditer(
                r"windowspecdefinition\(", full
            )
        ]
        assert specs, "expected the lit(0) rescale windows"
        for s in specs:
            # a data-partitioned window would print a column
            # reference (name#id) before the frame; the folded
            # lit(0) spec goes straight to the frame definition
            head = s.split("specifiedwindowframe")[0]
            assert "#" not in head, s
        caching.release_caches()

    def test_q151_rater_is_map_only(self, spark, sf_dir):
        """nprobe=1 assignment must stay a broadcast fold: no Window
        operator and no exchange carrying the embedding column
        (corpus rows are never shuffled to rank centroids)."""
        from building_energy_data_pipeline_spark.plans.queries import REGISTRY

        df = REGISTRY["q151_label_kappa"].spark(spark, sf_dir)
        plan = explain_str(df)
        assert "Window" not in plan
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "embedding#" not in ln, ln


class TestHotSaltedJoin:
    def test_matches_plain_join_and_splits(self, spark):
        from building_energy_data_pipeline_spark.operators.scale import (
            hot_salted_join,
        )

        skewed = spark.range(10_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") * 11).alias("w"),
        )
        out = hot_salted_join(
            skewed, small, ["k"], salt=4, hot_threshold=1000
        )
        plain = skewed.join(small, "k")
        assert out.count() == plain.count()
        a = out.groupBy("k").count().toPandas().set_index("k")
        b = plain.groupBy("k").count().toPandas().set_index("k")
        assert a.sort_index().equals(b.sort_index())
        # sum equality over all columns (row multiset check)
        sa = out.agg(F.sum("v"), F.sum("w")).first()
        sb = plain.agg(F.sum("v"), F.sum("w")).first()
        assert tuple(sa) == tuple(sb)

    def test_inner_only(self, spark):
        import pytest as _pytest

        from building_energy_data_pipeline_spark.operators.scale import (
            hot_salted_join,
        )

        df = spark.range(2).select(F.col("id").alias("k"))
        with _pytest.raises(ValueError):
            hot_salted_join(df, df, ["k"], how="left")

"""Sink layout tests: partition pruning and shuffle-free bucketed joins —
the two write-time levers a 100 TB deployment lives by."""

import pytest
from pyspark.sql import functions as F

from simple_cdc_service_spark.plans import plan_string
from simple_cdc_service_spark.sources.sinks import (
    read_table,
    write_bucketed,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"


class TestPartitionedSink:
    def test_partition_pruning(self, spark, tmp_path):
        orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
            "order_year", F.year("o_orderdate")
        )
        path = str(tmp_path / "orders_by_year")
        write_partitioned(orders, path, ["order_year"])

        back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
        plan = plan_string(back)
        assert "PartitionFilters: [isnotnull(order_year" in plan
        # correctness: same rows as filtering the unpartitioned source
        expected = orders.filter(F.col("order_year") == 1997).count()
        assert back.count() == expected


class TestBucketedJoin:
    def test_join_without_exchange(self, spark):
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        customer = spark.read.parquet(f"{SF}/customer.parquet")
        write_bucketed(orders, "b_orders", ["o_custkey"], n_buckets=4)
        write_bucketed(customer, "b_customer", ["c_custkey"], n_buckets=4)
        try:
            # forbid broadcast so the co-location (not a broadcast) is what
            # eliminates the shuffle
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = read_table(spark, "b_orders").join(
                read_table(spark, "b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = plan_string(joined)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # correctness against the plain join
            expected = orders.join(
                customer, orders.o_custkey == customer.c_custkey
            ).count()
            assert joined.count() == expected
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_customer")


class TestCompaction:
    def test_compacts_micro_batch_files(self, spark, tmp_path):
        from simple_cdc_service_spark.sources.sinks import compact_parquet_dir

        path = str(tmp_path / "log")
        # simulate 12 micro-batch appends -> >=12 files
        for i in range(12):
            spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(path)
        import glob

        files_before = glob.glob(f"{path}/*.parquet")
        assert len(files_before) >= 12
        before = {r.id for r in spark.read.parquet(path).collect()}

        n = compact_parquet_dir(spark, path, target_file_bytes=10**9)
        files_after = glob.glob(f"{path}/*.parquet")
        assert len(files_after) == n == 1
        after = {r.id for r in spark.read.parquet(path).collect()}
        assert after == before  # content identical

    def test_noop_below_threshold(self, spark, tmp_path):
        from simple_cdc_service_spark.sources.sinks import compact_parquet_dir

        path = str(tmp_path / "one")
        spark.range(10).coalesce(1).write.parquet(path)
        assert compact_parquet_dir(spark, path) == 1


class TestFormatRoundTrip:
    def test_all_formats_round_trip_typed_rows(self, spark, tmp_path):
        """parquet/ORC self-describe; JSON/CSV need the declared schema —
        every format must reproduce the exact typed rows."""
        from simple_cdc_service_spark.sources.sinks import FORMATS, read_format, write_format

        df = spark.createDataFrame(
            [(1, "a,b", 1.5, True), (2, None, -0.25, False), (3, "żółć", 0.0, None)],
            "id long, s string, x double, flag boolean",
        )
        want = sorted(map(tuple, df.collect()))
        for fmt in FORMATS:
            path = str(tmp_path / fmt)
            write_format(df, path, fmt)
            schema = df.schema if fmt in ("json", "csv") else None
            got = read_format(spark, path, fmt, schema=schema)
            assert got.schema == df.schema, fmt
            assert sorted(map(tuple, got.collect())) == want, fmt

    def test_text_formats_demand_schema(self, spark, tmp_path):
        import pytest as _pytest

        from simple_cdc_service_spark.sources.sinks import read_format

        with _pytest.raises(ValueError):
            read_format(spark, str(tmp_path), "csv")


class TestSqlViews:
    def test_raw_sql_over_registered_views(self, spark):
        """create_views makes the full dataset raw-SQL queryable; a join
        over two views must agree with the DataFrame formulation."""
        from simple_cdc_service_spark.sources.tables import create_views, load_table

        sf = "/root/testdata/sf0.001"
        assert "lineitem" in create_views(spark, sf)
        got = spark.sql(
            "SELECT count(*) AS n FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"
        ).collect()[0].n
        o = load_table(spark, "orders", sf)
        c = load_table(spark, "customer", sf)
        assert got == o.join(c, o.o_custkey == c.c_custkey).count()


class TestSignatureStore:
    def test_probe_shuffles_only_incoming_side(self, spark, tmp_path):
        """The incremental-dedup scale claim, verified in the plan: the
        persisted (band, bv)-bucketed signature store reads co-located;
        only the fresh incoming batch pays an Exchange. At 100 TB corpus
        + small nightly batch, the per-day candidate join is O(batch)."""
        import re

        from simple_cdc_service_spark.operators.dedup import (
            persist_signature_store,
            probe_signature_store,
        )
        from simple_cdc_service_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        incoming = docs.filter(F.col("doc_id") % 5 == 0)
        persist_signature_store(corpus, "sig_store_t", n_buckets=4)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            cand = probe_signature_store(spark, "sig_store_t", incoming)
            # plan shape: bucketed scan on the store side, exactly one
            # hash exchange below the join (the incoming side); distinct
            # adds its own exchange ABOVE the join, so inspect the join
            # input subtree via the pre-distinct frame.
            plan = plan_string(cand)
            assert "Bucketed: true" in plan, plan
            # exactly ONE (band, bv) hash exchange — the incoming side's.
            # A second would mean the bucketed store side shuffled too.
            # (The other exchanges in the plan are the incoming batch's
            # compute-spread round robin and the distinct above the join.)
            band_exchanges = re.findall(r"hashpartitioning\(band", plan)
            assert len(band_exchanges) == 1, plan
            # correctness: candidates superset of the verified incremental
            # pairs' id pairs (same banding params)
            from simple_cdc_service_spark.operators.dedup import (
                incremental_dedup_pairs,
            )
            verified = {
                (r.doc_id, r.dup_of)
                for r in incremental_dedup_pairs(
                    corpus, incoming, threshold=0.6
                ).collect()
            }
            got = {(r.doc_id_new, r.dup_of) for r in cand.collect()}
            assert verified <= got
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS sig_store_t")


class TestCompactedSigStoreProbe:
    def test_post_compaction_probe_leaves_store_unshuffled(self, spark, tmp_path):
        """After compact_manifest_store + vacuum, the admission probe
        against the compacted signature files must still cost O(batch):
        the batch's band frame is broadcast onto the store scan
        (BroadcastHashJoin), and the store side pays NO (band, bv)
        exchange. Also pins that the sigs side actually folded: the probe
        reads the compacted sig files the manifest lists, not the
        vacuumed per-batch v* files."""
        import json as _json
        import os as _os
        import re

        from simple_cdc_service_spark.streaming.pipeline import (
            compact_manifest_store,
            probe_corpus_sigs,
            start_corpus_dedup_admission,
            vacuum_manifest_store,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        _os.makedirs(src)
        texts = {
            1: "alpha document about rivers and old mills turning slowly in the current",
            2: "beta document describing compaction strategies for log structured storage",
            3: "gamma document on falconry and the patience required to train wild birds",
        }
        for i, (did, text) in enumerate(texts.items()):
            with open(_os.path.join(src, f"b{i}.json"), "w") as f:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
            stream = spark.readStream.schema("doc_id long, text string").json(src)
            start_corpus_dedup_admission(
                stream, corpus_dir, ckpt, threshold=0.5
            ).awaitTermination()

        m = compact_manifest_store(spark, corpus_dir, min_files=2)
        vacuum_manifest_store(corpus_dir, keep=1)
        compacted = {_os.path.dirname(e["path"]) for e in m["sigs"]}
        assert compacted == {"sigs/c2_0"}, "sigs side did not fold"

        batch = spark.createDataFrame(
            [(99, "delta document cataloguing moths drawn to the lighthouse lens")],
            "doc_id long, text string",
        )
        cand = probe_corpus_sigs(spark, corpus_dir, batch)
        plan = plan_string(cand)
        # store side folded: scan reads the compacted files, no batch dirs
        assert "sigs/c2_0" in plan, plan
        assert not re.search(r"sigs/v\d", plan), plan
        # no (band, bv) shuffle anywhere: the store never repartitions and
        # the batch side ships by broadcast, not exchange
        assert not re.search(r"hashpartitioning\(band", plan), plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
        assert cand.count() == 0  # novel doc: no candidates


class TestBucketedAnalytics:
    def test_per_user_analytics_shuffle_free_on_bucketed_events(self, spark, tmp_path):
        """The funnel/sequences/retention class is ONE exchange on user_id
        per query — unless the fact table is already bucketed by user_id,
        in which case it is ZERO: the scan's bucketing satisfies the
        grouping's distribution requirement outright. This is the 100 TB
        deployment guidance for behavioral analytics (bucket the event
        log by the entity key once; every per-entity pass rides it), and
        this pin proves Spark actually elides the exchange."""
        from pyspark.sql import functions as F

        from simple_cdc_service_spark.sources.sinks import write_bucketed
        from simple_cdc_service_spark.sources.tables import load_events

        ev = load_events(spark, "/root/testdata/sf0.001").select(
            "user_id", "ts_ms", "event_id", "event_type"
        )
        write_bucketed(ev, "ev_user_bucketed", ["user_id"], n_buckets=8)
        t = spark.table("ev_user_bucketed")
        seq = t.groupBy("user_id").agg(
            F.array_sort(
                F.collect_list(F.struct("ts_ms", "event_id", "event_type"))
            ).alias("seq")
        )
        plan = seq._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # and the result is the same as over the raw parquet
        raw = ev.groupBy("user_id").agg(F.count("*").alias("n"))
        bkt = t.groupBy("user_id").agg(F.count("*").alias("n"))
        assert raw.exceptAll(bkt).isEmpty() and bkt.exceptAll(raw).isEmpty()

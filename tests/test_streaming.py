"""Structured Streaming pipeline tests: file-JSON source (Kafka stand-in),
availableNow triggers, checkpointed restarts.

The key assertions mirror the reference's consistency tests but across
micro-batches and restarts — the delivery-semantics upgrade over the
reference's lost-on-restart consumer (main.py:25-28) is exactly what's
being proven here.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from simple_cdc_service_spark.config import INVOICE
from simple_cdc_service_spark.sources.changelog import generate_envelopes
from simple_cdc_service_spark.streaming import (
    read_changelog_stream,
    read_replica_manifest,
    start_event_log_sink,
    start_replica_merge_manifest,
    start_streaming_dedup,
    start_windowed_counts,
)


def _write_batch(src_dir: str, name: str, messages: list[str], start_offset: int = 0):
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for i, m in enumerate(messages):
            rec = {
                "offset": start_offset + i,
                "timestamp": 1_700_000_000_000 + (start_offset + i) * 1000,
                "value": m,
            }
            f.write(json.dumps(rec) + "\n")


def _run(handle):
    handle.awaitTermination()


class TestReplicaMerge:
    def test_replica_matches_replay_across_batches(self, spark, tmp_path):
        """Feed the seeded workload in two chunks through two availableNow
        runs sharing one checkpoint: the final replica must equal the full
        sequential replay (count + rows — the two reference assertions)."""
        msgs, expected = generate_envelopes(n=600, seed=3, truncate_every=250, key_space=200)
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")

        _write_batch(src, "part1.json", msgs[:400], 0)
        s = read_changelog_stream(spark, src)
        _run(start_replica_merge_manifest(s, INVOICE, state, ckpt))

        # restart: new file arrives, same checkpoint — only the delta is
        # processed (offsets come from the checkpoint, not `latest`).
        _write_batch(src, "part2.json", msgs[400:], 400)
        s2 = read_changelog_stream(spark, src)
        _run(start_replica_merge_manifest(s2, INVOICE, state, ckpt))

        replica = read_replica_manifest(spark, state)
        got = {r.order_id: r.invoice_number for r in replica.collect()}
        assert len(got) == len(expected)
        assert got == expected

    def test_truncate_wipes_prior_batch_state(self, spark, tmp_path):
        from simple_cdc_service_spark.sources.changelog import _envelope

        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        b1 = [
            json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 1, 1)),
            json.dumps(_envelope("c", None, {"order_id": 2, "invoice_number": 20}, 2, 2)),
        ]
        _write_batch(src, "b1.json", b1, 0)
        _run(start_replica_merge_manifest(read_changelog_stream(spark, src), INVOICE, state, ckpt))
        assert read_replica_manifest(spark, state).count() == 2

        b2 = [
            json.dumps(_envelope("t", None, None, 3, 3)),
            json.dumps(_envelope("c", None, {"order_id": 9, "invoice_number": 90}, 4, 4)),
        ]
        _write_batch(src, "b2.json", b2, 2)
        _run(start_replica_merge_manifest(read_changelog_stream(spark, src), INVOICE, state, ckpt))
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == {9: 90}


class TestBatchCommitIO:
    """A micro-batch's commit is file I/O on the checkpoint and the store,
    paid every batch. Without native libhadoop, Hadoop's local filesystem
    starts a child process per permission it sets or reads, so the
    session commits checkpoint logs through the FileSystem API, and the
    manifest stores write no _SUCCESS marker (their commit is the
    manifest)."""

    def test_checkpoint_logs_use_the_filesystem_manager(self, spark, tmp_path):
        jvm = spark._jvm
        pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        manager = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$").create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    def test_replica_and_admission_write_no_success_marker(self, spark, tmp_path):
        """The replica's delta and fold directories hold parquet files and
        no _SUCCESS; so do a corpus-admission batch's docs and sigs
        directories, which manifest v0 commits. 120 events against
        target_rows_per_file=50 fold batch 0."""
        from simple_cdc_service_spark.streaming.pipeline import (
            _manifest_versions,
            start_corpus_dedup_admission,
        )

        msgs, expected = generate_envelopes(n=120, seed=5, key_space=60)
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        _write_batch(src, "part1.json", msgs, 0)
        _run(start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state,
            str(tmp_path / "ckpt"), target_rows_per_file=50,
        ))
        for d in ("v0", "f0"):
            written = os.listdir(os.path.join(state, "data", d))
            assert any(f.endswith(".parquet") for f in written), (d, written)
            assert "_SUCCESS" not in written, (d, written)
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == expected

        docs = str(tmp_path / "docs")
        corpus_dir = str(tmp_path / "corpus")
        os.makedirs(docs)
        with open(os.path.join(docs, "b0.json"), "w") as f:
            f.write(json.dumps({"doc_id": 1, "text": "tidal energy turbines"}) + "\n")
        _run(start_corpus_dedup_admission(
            spark.readStream.schema("doc_id long, text string").json(docs),
            corpus_dir, str(tmp_path / "ckpt2"), threshold=0.5,
        ))
        assert _manifest_versions(corpus_dir) == [0]
        for d in ("data", "sigs"):
            written = os.listdir(os.path.join(corpus_dir, d, "v0"))
            assert any(f.endswith(".parquet") for f in written), (d, written)
            assert "_SUCCESS" not in written, (d, written)


class TestCrashRecoveryReplay:
    def test_rerun_committed_batch_is_skipped(self, spark, tmp_path):
        """foreachBatch re-delivers batch N when the job died between the
        merge commit and the checkpoint ack. Re-applying must not rewrite
        the committed version's files; its manifest short-circuits the
        batch instead."""
        import glob

        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
        )
        from simple_cdc_service_spark.schemas import INVOICE_ROW

        state = str(tmp_path / "state")
        msgs, expected = generate_envelopes(n=120, seed=7, truncate_every=50, key_space=40)
        parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)

        _merge_manifest_batch(parsed, INVOICE, state, batch_id=0)
        files_before = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(state, "data", "v0", "*.parquet"))
        }
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == expected

        # the replay: same batch_id, same data — must be a no-op, not a crash
        _merge_manifest_batch(parsed, INVOICE, state, batch_id=0)
        files_after = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(state, "data", "v0", "*.parquet"))
        }
        assert files_after == files_before  # untouched, not rewritten
        got2 = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got2 == expected


class TestPKChangingUpdate:
    """An update whose before.key != after.key must delete the old key and
    insert the new one — same semantics as the batch snapshot path
    (operators/cdc.py changelog_sql); previously the streaming merge
    upserted the new key but left the stale old-key row behind."""

    @staticmethod
    def _msgs():
        from simple_cdc_service_spark.sources.changelog import _envelope

        return [
            json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 100, 1)),
            json.dumps(_envelope("c", None, {"order_id": 5, "invoice_number": 50}, 110, 2)),
            # PK-changing update: key 1 → key 2
            json.dumps(
                _envelope(
                    "u",
                    {"order_id": 1, "invoice_number": 10},
                    {"order_id": 2, "invoice_number": 11},
                    120,
                    3,
                )
            ),
        ]

    def test_same_batch(self, spark, tmp_path):
        src = str(tmp_path / "src")
        _write_batch(src, "a.json", self._msgs(), 0)
        _run(
            start_replica_merge_manifest(
                read_changelog_stream(spark, src), INVOICE,
                str(tmp_path / "state"), str(tmp_path / "ckpt"),
            )
        )
        got = {r.order_id: r.invoice_number
               for r in read_replica_manifest(spark, str(tmp_path / "state")).collect()}
        assert got == {2: 11, 5: 50}  # key 1 gone, key 2 present

    def test_cross_batch(self, spark, tmp_path):
        """Old key deleted even when the PK-changing update arrives in a
        LATER batch than the insert it renames."""
        msgs = self._msgs()
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "a.json", msgs[:2], 0)
        _run(start_replica_merge_manifest(read_changelog_stream(spark, src), INVOICE, state, ckpt))
        _write_batch(src, "b.json", msgs[2:], 2)
        _run(start_replica_merge_manifest(read_changelog_stream(spark, src), INVOICE, state, ckpt))
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == {2: 11, 5: 50}


class TestBinlogCoordinateOrdering:
    def test_binlog_position_beats_kafka_offset(self, spark, tmp_path):
        """With a multi-partition topic, Kafka offsets interleave
        arbitrarily across partitions; the merge must order by the binlog
        coordinates inside the envelope. Feed two updates for one key where
        offset order CONTRADICTS binlog order — binlog must win."""
        from simple_cdc_service_spark.sources.changelog import _envelope

        msgs = [
            json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 100, 1)),
            # offset 1 carries the binlog-LATER event (pos 300)...
            json.dumps(
                _envelope("u", {"order_id": 1, "invoice_number": 10},
                          {"order_id": 1, "invoice_number": 99}, 300, 2)
            ),
            # ...offset 2 the binlog-EARLIER one (pos 200)
            json.dumps(
                _envelope("u", {"order_id": 1, "invoice_number": 10},
                          {"order_id": 1, "invoice_number": 55}, 200, 3)
            ),
        ]
        src = str(tmp_path / "src")
        _write_batch(src, "a.json", msgs, 0)
        _run(
            start_replica_merge_manifest(
                read_changelog_stream(spark, src), INVOICE,
                str(tmp_path / "state"), str(tmp_path / "ckpt"),
            )
        )
        got = {r.order_id: r.invoice_number
               for r in read_replica_manifest(spark, str(tmp_path / "state")).collect()}
        assert got == {1: 99}  # pos 300 is final, despite smaller offset

    def test_truncate_epoch_across_partitions_binlog_order(self, spark, tmp_path):
        """A truncate interleaved across two stand-in topic partitions with
        OUT-OF-ORDER kafka offsets: partition A carries a post-truncate
        insert at a LOWER offset than the truncate itself (which sits in
        partition B). The truncate epoch must be cut on binlog coordinates
        (file, pos, row) — offset order would wrongly wipe the survivor."""
        from simple_cdc_service_spark.sources.changelog import _envelope

        src = str(tmp_path / "src")
        # partition A: pre-truncate insert (pos 100) + POST-truncate insert
        # (pos 700) at offsets 0-1 — both offsets BELOW the truncate's.
        part_a = [
            json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 100, 1)),
            json.dumps(_envelope("c", None, {"order_id": 7, "invoice_number": 70}, 700, 4)),
        ]
        # partition B: the truncate (pos 500) and another post-truncate
        # insert (pos 600), at offsets 500-501.
        part_b = [
            json.dumps(_envelope("t", None, None, 500, 2)),
            json.dumps(_envelope("c", None, {"order_id": 9, "invoice_number": 90}, 600, 3)),
        ]
        _write_batch(src, "partA.json", part_a, 0)
        _write_batch(src, "partB.json", part_b, 500)
        _run(
            start_replica_merge_manifest(
                read_changelog_stream(spark, src), INVOICE,
                str(tmp_path / "state"), str(tmp_path / "ckpt"),
            )
        )
        got = {r.order_id: r.invoice_number
               for r in read_replica_manifest(spark, str(tmp_path / "state")).collect()}
        # k1 (pos 100) dies in the truncate; k7 (pos 700) and k9 (pos 600)
        # survive despite k7's kafka offset preceding the truncate's.
        assert got == {7: 70, 9: 90}


class TestIncrementalAggMaintenance:
    def test_agg_tracks_replica_across_batches(self, spark, tmp_path):
        """agg_col maintains (sum, n_keys) by per-key deltas — after every
        restart chunk the incremental row must equal a full recompute from
        the replica (inserts, updates, deletes, AND truncate resets all
        exercised by the seeded workload)."""
        from simple_cdc_service_spark.streaming.pipeline import read_agg

        msgs, expected = generate_envelopes(n=450, seed=21, truncate_every=170, key_space=120)
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        for i, (a, b) in enumerate([(0, 150), (150, 300), (300, 450)]):
            _write_batch(src, f"c{i}.json", msgs[a:b], a)
            _run(
                start_replica_merge_manifest(
                    read_changelog_stream(spark, src), INVOICE, state, ckpt,
                    agg_col="invoice_number",
                )
            )
            replica = read_replica_manifest(spark, state)
            want_n = replica.count()
            want_sum = (replica.agg(F.sum("invoice_number")).collect()[0][0] or 0)
            agg = read_agg(spark, state)
            assert agg.n_keys == want_n
            assert agg.sum_value == float(want_sum)
        # and the final state matches the sequential replay oracle
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == expected

    def test_vacuum_covers_agg_versions(self, spark, tmp_path):
        from simple_cdc_service_spark.streaming.pipeline import (
            read_agg,
            vacuum_manifest_store,
        )

        msgs, _ = generate_envelopes(n=300, seed=4, truncate_every=None, key_space=100)
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        for i, (a, b) in enumerate([(0, 100), (100, 200), (200, 300)]):
            _write_batch(src, f"c{i}.json", msgs[a:b], a)
            _run(
                start_replica_merge_manifest(
                    read_changelog_stream(spark, src), INVOICE, state, ckpt,
                    agg_col="invoice_number",
                )
            )
        agg_before = read_agg(spark, state)
        assert len(os.listdir(os.path.join(state, "agg"))) >= 3
        vacuum_manifest_store(state, keep=1)
        kept = [d for d in os.listdir(os.path.join(state, "agg")) if d.startswith("v")]
        assert len(kept) == 1
        agg_after = read_agg(spark, state)
        assert (agg_after.sum_value, agg_after.n_keys) == (
            agg_before.sum_value, agg_before.n_keys,
        )

    def test_bootstrapped_store_refuses_agg(self, spark, tmp_path):
        """A bootstrapped store's version holds rows but no aggregate:
        starting the sum at 0 would silently leave them out, so agg_col
        refuses it, naming the version, and commits nothing."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming import bootstrap_manifest_store
        from simple_cdc_service_spark.streaming.pipeline import (
            _manifest_versions,
            _merge_manifest_batch,
        )

        state = str(tmp_path / "state")
        bootstrap_manifest_store(
            spark.range(10).selectExpr("id AS order_id", "id * 7 AS invoice_number"),
            INVOICE, state,
        )
        msgs, _ = generate_envelopes(n=20, seed=2, truncate_every=None, key_space=30)
        parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
        with pytest.raises(ValueError, match="manifest version -1"):
            _merge_manifest_batch(parsed, INVOICE, state, 0, agg_col="invoice_number")
        assert _manifest_versions(state) == [-1]

    def test_agg_replay_of_committed_batch_is_stable(self, spark, tmp_path):
        """Re-delivering a fully committed batch must change neither the
        state nor the aggregate (commit marker short-circuit)."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
            read_agg,
        )

        msgs, _ = generate_envelopes(n=80, seed=2, truncate_every=None, key_space=30)
        parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
        state = str(tmp_path / "state")
        _merge_manifest_batch(parsed, INVOICE, state, 0, agg_col="invoice_number")
        first = read_agg(spark, state)
        _merge_manifest_batch(parsed, INVOICE, state, 0, agg_col="invoice_number")
        again = read_agg(spark, state)
        assert (first.sum_value, first.n_keys) == (again.sum_value, again.n_keys)

    def test_null_agg_value_key_not_double_counted(self, spark, tmp_path):
        """A key whose agg column is NULL (nullable insert, or a schema-
        evolution backfill) is still a PRESENT key: upserting it must not
        add +1 to n_keys again, and deleting it must subtract 1. Presence
        comes from an explicit state-join marker, never from the agg
        value's nullness."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            _envelope,
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
            read_agg,
        )

        state = str(tmp_path / "state")

        def merge(batch_id, events):
            msgs = [json.dumps(e) for e in events]
            parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
            _merge_manifest_batch(
                parsed, INVOICE, state, batch_id, agg_col="invoice_number"
            )
            return read_agg(spark, state)

        # b0: k1 arrives with NULL agg value, k2 with 7 → 2 keys, sum 7
        agg = merge(0, [
            _envelope("c", None, {"order_id": 1, "invoice_number": None}, 1, 1),
            _envelope("c", None, {"order_id": 2, "invoice_number": 7}, 2, 2),
        ])
        assert (agg.sum_value, agg.n_keys) == (7.0, 2)

        # b1: upsert the NULL-valued k1 (existing key → n_keys unchanged),
        # plus a fresh NULL-valued k3
        agg = merge(1, [
            _envelope("u", {"order_id": 1, "invoice_number": None},
                      {"order_id": 1, "invoice_number": 5}, 3, 3),
            _envelope("c", None, {"order_id": 3, "invoice_number": None}, 4, 4),
        ])
        assert (agg.sum_value, agg.n_keys) == (12.0, 3)

        # b2: delete the NULL-valued k3 — present key, must subtract 1
        agg = merge(2, [
            _envelope("d", {"order_id": 3, "invoice_number": None}, None, 5, 5),
        ])
        assert (agg.sum_value, agg.n_keys) == (12.0, 2)


class TestEventLogSink:
    def test_appends_every_non_tombstone(self, spark, tmp_path):
        msgs, _ = generate_envelopes(n=100, seed=5, truncate_every=40)
        src = str(tmp_path / "src")
        out = str(tmp_path / "log")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b.json", msgs, 0)
        _run(start_event_log_sink(read_changelog_stream(spark, src), out, ckpt))
        log = spark.read.parquet(out)
        assert log.count() == len(msgs)  # truncates logged too (main.py:42-45)
        assert set(log.columns) == {"timestamp", "kafka_message"}
        # every message round-trips verbatim
        assert log.filter(F.col("kafka_message").contains('"payload"')).count() == len(msgs)


class TestStreamingDedup:
    def test_duplicates_within_watermark_dropped(self, spark, tmp_path):
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        rows = []
        for i in range(50):
            rows.append({"event_id": i % 25, "event_time": f"2024-01-01 00:{i % 25:02d}:00"})
        with open(os.path.join(src, "a.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = (
            spark.readStream.schema("event_id long, event_time string")
            .json(src)
            .withColumn("event_time", F.col("event_time").cast("timestamp"))
        )
        _run(start_streaming_dedup(stream, out, ckpt, ["event_id"], "event_time", "1 hour"))
        assert spark.read.parquet(out).count() == 25


class TestWindowedCounts:
    def test_closed_windows_emitted(self, spark, tmp_path):
        """Append mode emits a window once the watermark passes its end —
        with the documented one-batch lag: a window closed by batch N's
        data is flushed while processing batch N+1."""
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def feed(name, hours):
            with open(os.path.join(src, name), "w") as f:
                for h in hours:
                    for i in range(4):
                        f.write(json.dumps({"event_time": f"2024-01-01 {h:02d}:1{i}:00"}) + "\n")

        def run():
            stream = (
                spark.readStream.schema("event_time string")
                .json(src)
                .withColumn("event_time", F.col("event_time").cast("timestamp"))
            )
            _run(start_windowed_counts(stream, out, ckpt, "event_time", "1 hour", "30 minutes"))
            return {r.win_start: r.n for r in spark.read.parquet(out).collect()}

        base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
        feed("a.json", [0, 1, 2])
        got1 = run()
        assert got1[base] == 4  # window 00 closed (watermark 02:10-30m=01:40)

        feed("b.json", [4])  # advances watermark to 03:43
        got2 = run()
        assert got2 == {base: 4, base + 3600000: 4, base + 2 * 3600000: 4}

    def test_sliding_windows_match_batch_equivalent(self, spark, tmp_path):
        """Sliding streaming windows (1h every 30m): every closed window's
        count must equal the batch F.window aggregate over the same rows —
        events straddle two overlapping windows each."""
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        rows = [f"2024-01-01 00:{m:02d}:00" for m in (5, 20, 40, 50)] + [
            "2024-01-01 01:10:00",
            "2024-01-01 01:45:00",
        ]
        with open(os.path.join(src, "a.json"), "w") as f:
            for t in rows:
                f.write(json.dumps({"event_time": t}) + "\n")
            # a far-future row to push the watermark past everything above
            f.write(json.dumps({"event_time": "2024-01-02 00:00:00"}) + "\n")

        stream = (
            spark.readStream.schema("event_time string")
            .json(src)
            .withColumn("event_time", F.col("event_time").cast("timestamp"))
        )
        _run(
            start_windowed_counts(
                stream, out, ckpt, "event_time", "1 hour", "30 minutes",
                slide="30 minutes",
            )
        )
        got = {r.win_start: r.n for r in spark.read.parquet(out).collect()}

        batch = (
            spark.createDataFrame([(t,) for t in rows], "event_time string")
            .withColumn("event_time", F.col("event_time").cast("timestamp"))
            .groupBy(F.window("event_time", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_millis("w.start").alias("win_start"), "n")
        )
        want = {r.win_start: r.n for r in batch.collect()}
        # every batch window over the original rows is closed by the
        # far-future watermark row and must appear with the same count
        for ws, n in want.items():
            assert got.get(ws) == n, (ws, n, got)


class TestSessionWindows:
    def test_sessions_emitted_per_key(self, spark, tmp_path):
        from simple_cdc_service_spark.streaming.pipeline import start_session_windows

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def feed(name, rows):
            with open(os.path.join(src, name), "w") as f:
                for uid, t in rows:
                    f.write(json.dumps({"user_id": uid, "event_time": t}) + "\n")

        def run():
            stream = (
                spark.readStream.schema("user_id long, event_time string")
                .json(src)
                .withColumn("event_time", F.col("event_time").cast("timestamp"))
            )
            start_session_windows(
                stream, out, ckpt, "event_time", "user_id", "10 minutes", "30 minutes"
            ).awaitTermination()

        # user 1: two bursts >10min apart (2 sessions); user 2: one burst
        feed("a.json", [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:05:00"),
                        (1, "2024-01-01 01:00:00"),
                        (2, "2024-01-01 00:30:00")])
        run()
        feed("b.json", [(9, "2024-01-01 05:00:00")])  # advances watermark
        run()
        got = {(r.user_id, r.n_events) for r in spark.read.parquet(out).collect()}
        assert (1, 2) in got and (1, 1) in got and (2, 1) in got


class TestMultiTableRouting:
    def test_two_tables_one_stream(self, spark, tmp_path):
        """Interleave two tables' envelopes (different schemas) in one
        stream; each replica must reflect only its own table's events."""
        import json as _json

        from pyspark.sql import types as T

        from simple_cdc_service_spark.config import ChangeTableConfig
        from simple_cdc_service_spark.schemas import INVOICE_ROW, row_schema
        from simple_cdc_service_spark.streaming import read_changelog_stream, read_replica_manifest
        from simple_cdc_service_spark.streaming.pipeline import start_multi_table_merge

        def env(table, op, before, after, pos):
            return _json.dumps(
                {"payload": {"before": before, "after": after, "op": op, "ts_ms": pos,
                             "source": {"table": table, "file": "b.1", "pos": pos, "row": 0}}}
            )

        PRODUCT_ROW = row_schema({"sku": T.LongType(), "price": T.LongType()})
        PRODUCT = ChangeTableConfig(
            name="product", key_columns=("sku",), value_columns=("price",),
            order_columns=("offset",),
        )
        msgs = [
            env("invoice", "c", None, {"order_id": 1, "invoice_number": 10}, 1),
            env("product", "c", None, {"sku": 7, "price": 99}, 2),
            env("invoice", "u", {"order_id": 1, "invoice_number": 10},
                {"order_id": 1, "invoice_number": 11}, 3),
            env("product", "d", {"sku": 7, "price": 99}, None, 4),
            env("product", "c", None, {"sku": 8, "price": 42}, 5),
        ]
        src = str(tmp_path / "src")
        _write_batch(src, "a.json", msgs, 0)
        start_multi_table_merge(
            read_changelog_stream(spark, src),
            {"invoice": (INVOICE, INVOICE_ROW), "product": (PRODUCT, PRODUCT_ROW)},
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
        ).awaitTermination()

        state = tmp_path / "state"
        inv = {r.order_id: r.invoice_number
               for r in read_replica_manifest(spark, str(state / "invoice")).collect()}
        prod = {r.sku: r.price
                for r in read_replica_manifest(spark, str(state / "product")).collect()}
        assert inv == {1: 11}
        assert prod == {8: 42}


class TestSchemaEvolution:
    def test_new_value_column_appears_mid_stream(self, spark, tmp_path):
        """The table grows a column between restarts (Debezium schema
        change): old state rows carry NULL for it, new rows populate it."""
        import json as _json

        from pyspark.sql import types as T

        from simple_cdc_service_spark.config import ChangeTableConfig
        from simple_cdc_service_spark.schemas import row_schema

        def env(op, before, after):
            return _json.dumps({"payload": {"before": before, "after": after, "op": op, "ts_ms": 1}})

        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")

        v1_row = row_schema({"order_id": T.LongType(), "invoice_number": T.LongType()})
        v1_cfg = ChangeTableConfig("invoice", ("order_id",), ("invoice_number",), ("offset",))
        _write_batch(src, "a.json", [env("c", None, {"order_id": 1, "invoice_number": 10})], 0)
        start_replica_merge_manifest(read_changelog_stream(spark, src), v1_cfg, state, ckpt,
                            row_schema=v1_row).awaitTermination()

        v2_row = row_schema({"order_id": T.LongType(), "invoice_number": T.LongType(),
                             "currency": T.StringType()})
        v2_cfg = ChangeTableConfig("invoice", ("order_id",),
                                   ("invoice_number", "currency"), ("offset",))
        _write_batch(src, "b.json",
                     [env("c", None, {"order_id": 2, "invoice_number": 20, "currency": "EUR"})], 1)
        start_replica_merge_manifest(read_changelog_stream(spark, src), v2_cfg, state, ckpt,
                            row_schema=v2_row).awaitTermination()

        got = {r.order_id: (r.invoice_number, r.currency)
               for r in read_replica_manifest(spark, state).collect()}
        assert got == {1: (10, None), 2: (20, "EUR")}


class TestVacuum:
    def test_keeps_newest_versions(self, spark, tmp_path):
        """vacuum_manifest_store on an SCD2 history store: older versions'
        files go, the latest history reads unchanged."""
        from simple_cdc_service_spark.streaming import (
            start_scd2_merge,
            vacuum_manifest_store,
        )
        from simple_cdc_service_spark.streaming.pipeline import _manifest_versions

        msgs, expected = generate_envelopes(n=300, seed=4, truncate_every=None, key_space=100)
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        for i, (a, b) in enumerate([(0, 100), (100, 200), (200, 300)]):
            _write_batch(src, f"c{i}.json", msgs[a:b], a)
            _run(start_scd2_merge(read_changelog_stream(spark, src), INVOICE, state, ckpt))

        assert len(_manifest_versions(state)) >= 3
        removed = vacuum_manifest_store(state, keep=1)
        assert len(removed) >= 2
        assert len(_manifest_versions(state)) == 1
        current = read_replica_manifest(spark, state).filter("is_current")
        got = {r.order_id: r.invoice_number for r in current.collect()}
        assert got == expected  # latest state untouched


class TestPartitionedEventLog:
    def test_day_partitions_created_and_pruned(self, spark, tmp_path):
        import glob

        from simple_cdc_service_spark.plans import plan_string

        msgs, _ = generate_envelopes(n=50, seed=9, truncate_every=None)
        src = str(tmp_path / "src")
        out = str(tmp_path / "log")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        # two distinct days of timestamps
        with open(os.path.join(src, "a.json"), "w") as f:
            for i, m in enumerate(msgs):
                day_ms = 1_700_000_000_000 + (i % 2) * 86_400_000
                f.write(json.dumps({"offset": i, "timestamp": day_ms, "value": m}) + "\n")
        _run(start_event_log_sink(read_changelog_stream(spark, src), out, ckpt,
                                  partition_by_day=True))
        days = sorted(os.path.basename(d) for d in glob.glob(f"{out}/log_date=*"))
        assert len(days) == 2
        one_day = spark.read.parquet(out).filter(F.col("log_date") == days[0][9:])
        assert "PartitionFilters: [isnotnull(log_date" in plan_string(one_day)
        assert one_day.count() == 25


class TestEnrichedLog:
    def test_stream_static_join_decorates_events(self, spark, tmp_path):
        """Stream-static broadcast join: every non-tombstone change event
        lands in the sink decorated with its dimension row (left join —
        keys missing from the dimension must still flow, with nulls)."""
        from simple_cdc_service_spark.streaming import start_enriched_log

        msgs, _ = generate_envelopes(n=120, seed=11, truncate_every=None, key_space=40)
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "part1.json", msgs, 0)

        # dimension covers only even keys — odd keys must survive with null
        dim = spark.createDataFrame(
            [(k, f"seg{k % 3}") for k in range(0, 40, 2)], "order_id int, segment string"
        )
        s = read_changelog_stream(spark, src)
        _run(start_enriched_log(s, dim, "order_id", out, ckpt))

        got = spark.read.parquet(out)
        assert got.count() == len(msgs)  # every envelope parsed and kept
        assert set(got.columns) == {"order_id", "offset", "timestamp", "op_class", "segment"}
        segs = {r.order_id: r.segment for r in got.collect()}
        for k, seg in segs.items():
            if k % 2 == 0:
                assert seg == f"seg{k % 3}"
            else:
                assert seg is None


class TestStreamStreamJoin:
    def test_interval_join_matches_batch_equivalent(self, spark, tmp_path):
        """Impressions joined to clicks within 30 minutes, both as
        watermarked streams: the availableNow result must equal the plain
        batch interval join on the same data (including a click OUTSIDE
        the lag window contributing nothing)."""
        from simple_cdc_service_spark.streaming import start_stream_stream_join

        imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
        os.makedirs(imp_dir), os.makedirs(clk_dir)
        imps = [
            {"user_id": 1, "event_time": "2024-01-01 10:00:00", "ad": "a1"},
            {"user_id": 1, "event_time": "2024-01-01 12:00:00", "ad": "a2"},
            {"user_id": 2, "event_time": "2024-01-01 10:05:00", "ad": "a3"},
            {"user_id": 3, "event_time": "2024-01-01 10:00:00", "ad": "a4"},
        ]
        clks = [
            {"user_id": 1, "event_time": "2024-01-01 10:10:00", "page": "p1"},
            {"user_id": 1, "event_time": "2024-01-01 12:40:00", "page": "p2"},  # >30m after a2
            {"user_id": 2, "event_time": "2024-01-01 10:20:00", "page": "p3"},
            {"user_id": 4, "event_time": "2024-01-01 10:00:00", "page": "p4"},  # no imp
        ]
        with open(os.path.join(imp_dir, "a.json"), "w") as f:
            for r in imps:
                f.write(json.dumps(r) + "\n")
        with open(os.path.join(clk_dir, "a.json"), "w") as f:
            for r in clks:
                f.write(json.dumps(r) + "\n")

        def stream(path, schema):
            return (
                spark.readStream.schema(schema)
                .json(path)
                .withColumn("event_time", F.col("event_time").cast("timestamp"))
            )

        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        h = start_stream_stream_join(
            stream(imp_dir, "user_id long, event_time string, ad string"),
            stream(clk_dir, "user_id long, event_time string, page string"),
            out,
            ckpt,
            max_lag_seconds=1800,
        )
        h.awaitTermination()

        got = {
            (r.user_id, r.ad, r.r_page)
            for r in spark.read.parquet(out).collect()
        }
        # batch equivalent
        imp_df = spark.read.json(imp_dir).withColumn(
            "event_time", F.col("event_time").cast("timestamp")
        )
        clk_df = (
            spark.read.json(clk_dir)
            .withColumn("r_event_time", F.col("event_time").cast("timestamp"))
            .select("user_id", "r_event_time", "page")
            .withColumnRenamed("user_id", "r_user_id")
        )
        want = {
            (r.user_id, r.ad, r.page)
            for r in imp_df.join(
                clk_df,
                (F.col("user_id") == F.col("r_user_id"))
                & (F.col("r_event_time") >= F.col("event_time"))
                & (
                    F.col("r_event_time")
                    <= F.col("event_time") + F.expr("INTERVAL 1800 SECONDS")
                ),
            ).collect()
        }
        assert got == want
        assert ("1", "a1", "p1") not in got  # types: long, not str
        assert (1, "a2", "p2") not in got  # outside the lag window
        assert got == {(1, "a1", "p1"), (2, "a3", "p3")}


class TestCorpusDedupAdmission:
    def test_cross_batch_and_within_batch_near_dups_rejected(self, spark, tmp_path):
        """Streaming corpus admission: batch 1 seeds the corpus; batch 2
        carries a near-copy of an admitted doc (rejected), an in-batch
        near-dup pair (min id survives), and a unique doc (admitted).
        Replaying a committed batch must not duplicate the corpus."""
        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        t1 = ("the quick brown fox one jumps over the lazy dog near river "
              "bend while birds watch the water flow past the old mill")
        t2 = ("completely different content describing distributed storage "
              "engines compaction strategies and write amplification costs")
        t3 = ("a third unrelated document about medieval falconry traditions "
              "and the training of hunting birds across the centuries")

        def feed(name, rows):
            with open(os.path.join(src, name), "w") as f:
                for did, text in rows:
                    f.write(json.dumps({"doc_id": did, "text": text}) + "\n")

        def run():
            stream = spark.readStream.schema("doc_id long, text string").json(src)
            start_corpus_dedup_admission(
                stream, corpus_dir, ckpt, threshold=0.5
            ).awaitTermination()

        feed("b1.json", [(1, t1), (2, t2)])
        run()
        got1 = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert got1 == {1, 2}

        feed("b2.json", [
            (10, t1 + " tail"),      # near-copy of admitted doc 1 → reject
            (20, t3), (21, t3 + " extra"),  # in-batch near-dup pair → keep 20
            (30, "entirely novel text on tidal energy turbines and grid "
                 "integration challenges in northern estuaries today"),
        ])
        run()
        got2 = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert got2 == {1, 2, 20, 30}, got2

        # replay protection (contract tightened in r8): a fresh checkpoint
        # against a non-empty corpus is REFUSED by default — its batch ids
        # restart at 0 and collide with committed versions, which silently
        # drops genuinely-new batches (measured in the r8 500k-store
        # bench). Lost-checkpoint recovery over a source that re-delivers
        # only previously-processed data is an EXPLICIT opt-in
        # (allow_checkpoint_rebind=True); there the committed-version
        # markers short-circuit and nothing duplicates.
        import pytest as _pytest

        from simple_cdc_service_spark.streaming.pipeline import (
            start_corpus_dedup_admission as sda,
        )

        run_again_ckpt = str(tmp_path / "ckpt2")
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        with _pytest.raises(ValueError, match="already has committed versions"):
            sda(stream, corpus_dir, run_again_ckpt, threshold=0.5)
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        sda(
            stream, corpus_dir, run_again_ckpt, threshold=0.5,
            allow_checkpoint_rebind=True,
        ).awaitTermination()
        got3 = [r.doc_id for r in read_corpus(spark, corpus_dir).collect()]
        assert sorted(got3) == sorted(got2), got3

    def test_compaction_folds_versions_without_double_count(self, spark, tmp_path):
        """compact_manifest_store folds the corpus' per-batch docs and sig
        files in ONE manifest replacement; readers see the same corpus
        before and after, the superseded batch files left while vacuum
        has not run are not double-counted, and admission keeps working
        on top of a compacted corpus."""
        import glob

        from simple_cdc_service_spark.streaming.pipeline import (
            compact_manifest_store,
            read_corpus,
            start_corpus_dedup_admission,
            vacuum_manifest_store,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        texts = {
            1: "alpha document about rivers and old mills turning slowly in the current",
            2: "beta document describing compaction strategies for log structured storage",
            3: "gamma document on falconry and the patience required to train wild birds",
        }

        def feed_and_run(name, rows):
            with open(os.path.join(src, name), "w") as f:
                for did, text in rows:
                    f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
            stream = spark.readStream.schema("doc_id long, text string").json(src)
            start_corpus_dedup_admission(
                stream, corpus_dir, ckpt, threshold=0.5
            ).awaitTermination()

        for i, (did, text) in enumerate(texts.items()):
            feed_and_run(f"b{i}.json", [(did, text)])
        before = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert before == {1, 2, 3}

        # compaction committed, vacuum not run — the batch files linger
        m = compact_manifest_store(spark, corpus_dir, min_files=2)
        assert {os.path.dirname(e["path"]) for e in m["files"]} == {"data/c2_0"}
        assert {os.path.dirname(e["path"]) for e in m["sigs"]} == {"sigs/c2_0"}
        assert glob.glob(os.path.join(corpus_dir, "data", "v*", "*.parquet")), (
            "batch files linger"
        )
        again = [r.doc_id for r in read_corpus(spark, corpus_dir).collect()]
        assert sorted(again) == [1, 2, 3], f"double count: {again}"

        vacuum_manifest_store(corpus_dir, keep=1)
        assert not glob.glob(os.path.join(corpus_dir, "data", "v*"))
        assert not glob.glob(os.path.join(corpus_dir, "sigs", "v*"))
        assert sorted(
            r.doc_id for r in read_corpus(spark, corpus_dir).collect()
        ) == [1, 2, 3]

        # admission continues on the compacted corpus: dup of doc 1
        # rejected (signatures survived the fold), novel doc admitted
        feed_and_run("b4.json", [
            (10, texts[1] + " tail"),
            (11, "novel text about tidal turbines spinning in northern estuaries"),
        ])
        final = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert final == {1, 2, 3, 11}, final

    def test_commit_crash_then_rerun_equals_uncrashed_run(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill batch 1 after its docs and sigs are written, before its
        manifest commit, then rerun the stream on the same checkpoint: the
        corpus and the signature store equal an uncrashed run's. The
        checkpoint then loses batch 1's ack, so the committed batch is
        delivered again — and skipped, its files untouched."""
        import glob

        from simple_cdc_service_spark.streaming import pipeline

        t1 = ("the quick brown fox one jumps over the lazy dog near river "
              "bend while birds watch the water flow past the old mill")
        t3 = ("a third unrelated document about medieval falconry traditions "
              "and the training of hunting birds across the centuries")
        batches = [
            [(1, t1), (2, "completely different content describing distributed "
                          "storage engines compaction strategies and costs")],
            [(10, t1 + " tail"), (20, t3), (21, t3 + " extra"),
             (30, "entirely novel text on tidal energy turbines and grid "
                  "integration challenges in northern estuaries today")],
        ]

        def start(root):
            stream = spark.readStream.schema("doc_id long, text string").json(
                str(root / "src")
            )
            return pipeline.start_corpus_dedup_admission(
                stream, str(root / "corpus"), str(root / "ckpt"), threshold=0.5
            )

        def feed(root, i):
            os.makedirs(root / "src", exist_ok=True)
            with open(root / "src" / f"b{i}.json", "w") as f:
                for did, text in batches[i]:
                    f.write(json.dumps({"doc_id": did, "text": text}) + "\n")

        def state(root):
            corpus_dir = str(root / "corpus")
            docs = sorted(
                r.doc_id for r in pipeline.read_corpus(spark, corpus_dir).collect()
            )
            sigs = sorted(
                (r.doc_id, r.band, r.bv)
                for r in pipeline._read_sigs(spark, corpus_dir).collect()
            )
            return docs, sigs

        clean = tmp_path / "clean"
        for i in range(2):
            feed(clean, i)
            start(clean).awaitTermination()

        crashy = tmp_path / "crashy"
        feed(crashy, 0)
        start(crashy).awaitTermination()
        commit = pipeline._commit_manifest
        crashed = []

        def crash_once(state_dir, version, manifest):
            if not crashed:
                crashed.append(version)
                raise RuntimeError("killed before the commit")
            commit(state_dir, version, manifest)

        monkeypatch.setattr(pipeline, "_commit_manifest", crash_once)
        feed(crashy, 1)
        with pytest.raises(Exception, match="killed before the commit"):
            start(crashy).awaitTermination()
        corpus_dir = str(crashy / "corpus")
        assert crashed == [1]
        for d in ("data", "sigs"):
            assert glob.glob(os.path.join(corpus_dir, d, "v1", "*.parquet")), d
        assert pipeline._manifest_versions(corpus_dir) == [0]

        start(crashy).awaitTermination()
        assert pipeline._manifest_versions(corpus_dir) == [0, 1]
        assert state(crashy) == state(clean)
        assert state(clean)[0] == [1, 2, 20, 30]

        # batch 1 delivered again: drop its ack from the checkpoint
        def batch1_files():
            return {
                f: os.path.getmtime(f)
                for f in glob.glob(os.path.join(corpus_dir, "*", "v1*", "*"))
                + [os.path.join(corpus_dir, "manifest", "v1.json")]
            }

        written = batch1_files()
        for f in glob.glob(str(crashy / "ckpt" / "commits" / "*1*")):
            os.remove(f)
        start(crashy).awaitTermination()
        assert os.path.exists(crashy / "ckpt" / "commits" / "1")  # re-ran
        assert batch1_files() == written
        assert state(crashy) == state(clean)

    def test_within_batch_collapse_is_cluster_representative(
        self, spark, tmp_path
    ):
        """Star/chain components collapse to ONE survivor (min id), the
        documented cluster-representative policy. Shape (1,3),(2,3) with
        1 !~ 2: the old pairwise drop-greatest rule kept {1, 2}; cluster
        semantics keeps only the component min, {1}."""
        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        a = "storms gather over the western ridge while shepherds count their flocks"
        b = "quiet libraries archive forgotten letters between rival cartographers"
        rows = [(1, a), (2, b), (3, a + " " + b)]
        with open(os.path.join(src, "b0.json"), "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        start_corpus_dedup_admission(
            stream, corpus_dir, ckpt, threshold=0.35, k=16, bands=16
        ).awaitTermination()
        got = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert got == {1}, got

    def test_admission_xxhash_family_end_to_end(self, spark, tmp_path):
        """family="xxhash64" flows through collapse, store write, and
        probe: a near-copy arriving in a later batch must be rejected
        against the xx-family signature store. (The family must stay
        uniform per corpus_dir — probe signatures must match the stored
        ones.)"""
        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        t1 = "alpha document about rivers and old mills turning slowly in the current"
        batches = [
            [(1, t1)],
            [(10, t1 + " tail"),  # near-copy of stored doc 1 → reject
             (11, "novel text about tidal turbines spinning in northern estuaries")],
        ]
        for i, rows in enumerate(batches):
            with open(os.path.join(src, f"b{i}.json"), "w") as f:
                for did, text in rows:
                    f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
            stream = spark.readStream.schema("doc_id long, text string").json(src)
            start_corpus_dedup_admission(
                stream, corpus_dir, ckpt, threshold=0.5, family="xxhash64"
            ).awaitTermination()
        got = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert got == {1, 11}, got


class TestQualityGatedAdmission:
    def test_low_quality_rejected_before_dedup(self, spark, tmp_path):
        """Admission with the Gopher/C4 gate: failing docs are rejected
        BEFORE dedup — they are absent from the corpus AND from the
        signature store (a rejected doc must never suppress a future good
        near-duplicate or act as a cluster representative)."""
        import json as _json

        from simple_cdc_service_spark.operators.text import filter_quality
        from simple_cdc_service_spark.streaming.pipeline import (
            _read_sigs,
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = str(tmp_path / "src")
        corpus_dir = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        good1 = ("the river turns east past a stone bridge and low hills "
                 "where old barns lean into wind worn fields toward dusk "
                 "while herons wade slow in cold water")
        good2 = ("a market opens early on narrow streets selling bread "
                 "fruit cloth and tools to farmers who arrive before dawn "
                 "with carts drawn by patient mules")
        bad_short = "too few words here"  # fails word-count floor
        bad_repeat = ("spam " * 30).strip()  # fails top-word + stopwords

        rows = [(1, good1), (2, bad_short), (3, bad_repeat), (4, good2)]
        with open(os.path.join(src, "b1.json"), "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

        stream = spark.readStream.schema("doc_id long, text string").json(src)
        start_corpus_dedup_admission(
            stream, corpus_dir, ckpt, threshold=0.5, quality_filter=filter_quality
        ).awaitTermination()

        admitted = {r.doc_id for r in read_corpus(spark, corpus_dir).collect()}
        assert admitted == {1, 4}
        sig_ids = {r.doc_id for r in _read_sigs(spark, corpus_dir).collect()}
        assert sig_ids == {1, 4}


class TestWatermarkDropAccounting:
    def test_late_rows_dropped_and_counted(self, spark, tmp_path):
        """A row arriving BEYOND the watermark must (a) not appear in any
        emitted window and (b) be visible in the per-batch state metrics
        as numRowsDroppedByWatermark — silent data loss is the one thing a
        late-data policy may not do. Exercises the ProgressRecorder's
        state capture end-to-end."""
        import json as _json

        from simple_cdc_service_spark.streaming.metrics import ProgressRecorder

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        metrics = str(tmp_path / "metrics.jsonl")
        os.makedirs(src)

        def feed(name, times):
            with open(os.path.join(src, name), "w") as f:
                for t in times:
                    f.write(_json.dumps({"event_time": t}) + "\n")

        def run():
            stream = (
                spark.readStream.schema("event_time string")
                .json(src)
                .withColumn("event_time", F.col("event_time").cast("timestamp"))
            )
            q = start_windowed_counts(
                stream, out, ckpt, "event_time", "1 hour", "30 minutes"
            )
            q.awaitTermination()
            # handle-side progress is synchronous (no listener-bus delay)
            return [_json.loads(p.json) for p in q.recentProgress]

        rec = ProgressRecorder(metrics)
        spark.streams.addListener(rec)
        try:
            # batch 1: two on-time rows + a far-future row -> watermark ends
            # up at 23:30, windows 00 and 01 close and emit
            feed("a.json", ["2024-01-01 00:10:00", "2024-01-01 01:10:00",
                            "2024-01-02 00:00:00"])
            prog = run()
            # batch 2: a row for the long-closed 00:00 window (23h late)
            feed("b.json", ["2024-01-01 00:20:00"])
            prog += run()
        finally:
            spark.streams.removeListener(rec)

        counts = {r.win_start: r.n for r in spark.read.parquet(out).collect()}
        base = 1704067200000  # 2024-01-01 00:00 UTC
        assert counts[base] == 1  # late row NOT added (window already emitted)
        assert counts[base + 3600000] == 1

        dropped = sum(
            s["numRowsDroppedByWatermark"]
            for p in prog
            for s in p.get("stateOperators", [])
        )
        assert dropped == 1, prog

        # the ProgressRecorder sidecar sees the same accounting; the
        # listener bus is ASYNC, so poll briefly rather than read-once
        import time as _time

        deadline = _time.monotonic() + 20
        rec_dropped = -1
        while _time.monotonic() < deadline:
            try:
                with open(metrics) as f:
                    lines = [_json.loads(ln) for ln in f]
            except FileNotFoundError:
                lines = []
            rec_dropped = sum(
                s["dropped_by_watermark"]
                for ln in lines
                if ln["event"] == "progress"
                for s in ln.get("state", [])
            )
            if rec_dropped == 1:
                break
            _time.sleep(0.5)
        assert rec_dropped == 1, lines


class TestStreamingFunnel:
    def test_streaming_funnel_equals_batch_after_drain(self, spark, tmp_path):
        """Feed the sf0.001 events in TWO ordered chunks through two
        availableNow runs sharing a checkpoint: the per-user state fold
        must equal the batch funnel_conversion on the same data."""
        import json as _json

        import pandas as pd

        from simple_cdc_service_spark.registry import REGISTRY
        from simple_cdc_service_spark.streaming.pipeline import (
            read_funnel_state,
            start_funnel_state,
        )

        ev = (
            pd.read_parquet("/root/testdata/sf0.001/events.parquet")
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        ev["ts_ms"] = ev["ts"].astype("int64") // 1000
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def feed(name, chunk):
            with open(os.path.join(src, name), "w") as f:
                for _, r in chunk.iterrows():
                    f.write(
                        _json.dumps(
                            {
                                "ts_ms": int(r["ts_ms"]),
                                "event_id": int(r["event_id"]),
                                "user_id": int(r["user_id"]),
                                "event_type": r["event_type"],
                            }
                        )
                        + "\n"
                    )

        def run():
            stream = spark.readStream.schema(
                "ts_ms long, event_id long, user_id long, event_type string"
            ).json(src)
            start_funnel_state(stream, out, ckpt).awaitTermination()

        half = len(ev) // 2
        feed("a.json", ev.iloc[:half])
        run()
        feed("b.json", ev.iloc[half:])
        run()

        got = read_funnel_state(spark, out).collect()[0]
        want = (
            REGISTRY["funnel_conversion"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect()[0]
        )
        assert (got.n_1, got.n_2, got.n_3, got.n_4) == (
            want.n_signup,
            want.n_view,
            want.n_click,
            want.n_purchase,
        )


class TestCorpusStatsMV:
    def test_incremental_stats_equal_batch_after_drain(self, spark, tmp_path):
        """Two-chunk drain of the sf0.001 documents: the rolled-up MV must
        equal corpus_stats' additive columns + exact source breadth."""
        import json as _json

        import pandas as pd

        from simple_cdc_service_spark.registry import REGISTRY
        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus_stats,
            rollup_corpus_stats,
            start_corpus_stats_maintenance,
        )

        docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
        src = str(tmp_path / "src")
        stats = str(tmp_path / "stats")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        def feed(name, chunk):
            with open(os.path.join(src, name), "w") as f:
                for _, r in chunk.iterrows():
                    f.write(
                        _json.dumps(
                            {
                                "doc_id": int(r["doc_id"]),
                                "text": r["text"],
                                "lang": r["lang"],
                                "source": r["source"],
                            }
                        )
                        + "\n"
                    )

        def run():
            stream = spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).json(src)
            start_corpus_stats_maintenance(stream, stats, ckpt).awaitTermination()

        half = len(docs) // 2
        feed("a.json", docs.iloc[:half])
        run()
        feed("b.json", docs.iloc[half:])
        run()

        mv = (
            rollup_corpus_stats(read_corpus_stats(spark, stats))
            .toPandas()
            .set_index("lang")
            .sort_index()
        )
        want = (
            REGISTRY["corpus_stats"]
            .fn(spark, "/root/testdata/sf0.001")
            .toPandas()
            .set_index("lang")
            .sort_index()
        )
        for col in ("n_docs", "n_tokens", "n_chars", "n_sources"):
            assert (mv[col] == want[col]).all(), col

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """Re-folding a committed batch (foreachBatch crash-replay) must
        not double-count."""
        import pandas as pd

        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus_stats,
            start_corpus_stats_maintenance,  # noqa: F401 (import parity)
        )
        from simple_cdc_service_spark.streaming import pipeline as P

        docs = spark.createDataFrame(
            [(1, "a b c", "en", "s1"), (2, "d e", "de", "s2")],
            "doc_id long, text string, lang string, source string",
        )
        stats = str(tmp_path / "stats")
        import json as _json

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as f:
            for r in docs.collect():
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "text": r.text, "lang": r.lang,
                         "source": r.source}
                    )
                    + "\n"
                )

        def run(cp):
            stream = spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).json(src)
            P.start_corpus_stats_maintenance(stream, stats, cp).awaitTermination()

        run(ckpt)
        before = read_corpus_stats(spark, stats).toPandas()
        # fresh checkpoint, same input, same stats dir -> same batch_id 0 is
        # re-delivered; the _SUCCESS short-circuit must make it a no-op
        run(str(tmp_path / "ckpt2"))
        after = read_corpus_stats(spark, stats).toPandas()
        pd.testing.assert_frame_equal(
            before.sort_values(["lang", "source"]).reset_index(drop=True),
            after.sort_values(["lang", "source"]).reset_index(drop=True),
        )

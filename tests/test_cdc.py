"""CDC operator unit + replay tests.

Mirrors the reference's test strategy (tests/test_consistency.py: count
equality + row-by-row equality against the source-of-truth) but with a
python-side sequential replay as the oracle, plus per-branch envelope
fixtures — the four example envelopes the reference documents but never
wires to tests (SURVEY.md §5).
"""

import json

from pyspark.sql import functions as F

from simple_cdc_service_spark.config import INVOICE, ChangeTableConfig
from simple_cdc_service_spark.operators import cdc
from simple_cdc_service_spark.sources.changelog import (
    envelopes_df,
    generate_envelopes,
    parse_envelopes,
)

CFG = ChangeTableConfig(
    name="invoice",
    key_columns=("order_id",),
    value_columns=("invoice_number",),
    order_columns=("offset",),
)


def _mk_envelope(op, before, after):
    return json.dumps({"payload": {"before": before, "after": after, "op": op, "ts_ms": 1}})


class TestClassifyOp:
    """The 4-way null-ness branch (main.py:49,54,75,88) must agree with the
    Debezium op codes on one fixture per consumer branch."""

    def test_four_branches(self, spark):
        rows = [
            (0, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 1})),
            (1, _mk_envelope("u", {"order_id": 1, "invoice_number": 1}, {"order_id": 1, "invoice_number": 2})),
            (2, _mk_envelope("d", {"order_id": 1, "invoice_number": 2}, None)),
            (3, _mk_envelope("t", None, None)),
        ]
        df = spark.createDataFrame(rows, "offset long, value string")
        parsed = parse_envelopes(df.withColumn("timestamp", F.lit(0)))
        got = (
            parsed.select("op", cdc.classify_op(F.col("before"), F.col("after")).alias("cls"))
            .orderBy("op")
            .collect()
        )
        assert {(r.op, r.cls) for r in got} == {
            ("c", "insert"),
            ("u", "update"),
            ("d", "delete"),
            ("t", "truncate"),
        }

    def test_tombstones_dropped(self, spark):
        df = spark.createDataFrame(
            [(0, None), (1, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 1}))],
            "offset long, value string",
        )
        parsed = parse_envelopes(df.withColumn("timestamp", F.lit(0)))
        assert parsed.count() == 1  # null-value message skipped (main.py:37-38)


class TestCollapse:
    def _changelog(self, spark, rows):
        return spark.createDataFrame(
            rows, "offset long, op string, order_id long, invoice_number long"
        )

    def test_insert_update_delete(self, spark):
        ch = self._changelog(
            spark,
            [
                (0, "c", 1, 10),
                (1, "c", 2, 20),
                (2, "u", 1, 11),
                (3, "d", 2, 20),
                (4, "c", 3, 30),
            ],
        )
        got = {r.order_id: r.invoice_number for r in cdc.collapse_changelog(ch, CFG).collect()}
        assert got == {1: 11, 3: 30}

    def test_truncate_resets(self, spark):
        """op='t' wipes prior state (main.py:88-90); later events survive."""
        ch = self._changelog(
            spark,
            [(0, "c", 1, 10), (1, "c", 2, 20), (2, "t", None, None), (3, "c", 3, 30)],
        )
        got = {r.order_id: r.invoice_number for r in cdc.collapse_changelog(ch, CFG).collect()}
        assert got == {3: 30}

    def test_all_truncated(self, spark):
        ch = self._changelog(spark, [(0, "c", 1, 10), (1, "t", None, None)])
        assert cdc.collapse_changelog(ch, CFG).count() == 0

    def test_window_variant_agrees(self, spark):
        ch = self._changelog(
            spark,
            [(0, "c", 1, 10), (1, "u", 1, 11), (2, "t", None, None), (3, "c", 1, 99), (4, "d", 1, 99), (5, "c", 2, 7)],
        )
        a = cdc.collapse_changelog(ch, CFG)
        b = cdc.collapse_changelog_window(ch, CFG)
        assert cdc.consistency_diff(a, b).count() == 0

    def test_consistency_diff_catches_drift(self, spark):
        a = self._changelog(spark, [(0, "c", 1, 10)]).select("order_id", "invoice_number")
        b = self._changelog(spark, [(0, "c", 1, 11)]).select("order_id", "invoice_number")
        assert cdc.consistency_diff(a, b).count() == 2


class TestReplay:
    """Seeded end-to-end replay: generator → envelopes → parse → snapshot
    must equal the sequential python replay (count + full row equality, the
    two reference consistency assertions)."""

    def test_snapshot_matches_sequential_replay(self, spark):
        messages, expected = generate_envelopes(n=900, seed=7, truncate_every=350, key_space=300)
        parsed = parse_envelopes(envelopes_df(spark, messages))
        snap = cdc.snapshot_from_envelopes(parsed, INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert len(got) == len(expected)  # test_row_count analogue
        assert got == expected  # test_each_row analogue

    def test_no_truncates(self, spark):
        messages, expected = generate_envelopes(n=400, seed=11, truncate_every=None)
        parsed = parse_envelopes(envelopes_df(spark, messages))
        snap = cdc.snapshot_from_envelopes(parsed, INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert got == expected

    def test_generator_emits_all_ops(self):
        messages, _ = generate_envelopes(n=900, seed=7, truncate_every=350, key_space=300)
        ops = {json.loads(m)["payload"]["op"] for m in messages}
        assert ops == {"c", "u", "d", "t"}  # fixes the reference's insert-only bug

    def test_pk_changing_updates_batch_replay(self, spark):
        """PK-changing updates mixed into the workload: the snapshot must
        match the python oracle's delete(old)+insert(new) semantics — the
        case the reference would corrupt (stale old-key row,
        main.py:56-70)."""
        messages, expected = generate_envelopes(
            n=700, seed=19, truncate_every=300, key_space=200, pk_change_prob=0.3
        )
        pk_changes = sum(
            1
            for m in messages
            for p in [json.loads(m)["payload"]]
            if p["op"] == "u" and p["before"]["order_id"] != p["after"]["order_id"]
        )
        assert pk_changes > 10  # the scenario is actually exercised
        parsed = parse_envelopes(envelopes_df(spark, messages))
        snap = cdc.snapshot_from_envelopes(parsed, INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert got == expected

    def test_pk_changing_updates_streaming_replay(self, spark, tmp_path):
        """Same workload through the streaming merge across a restart —
        batch and streaming paths share changelog_sql, so both must
        land on the oracle state."""
        import os

        from simple_cdc_service_spark.streaming import (
            read_changelog_stream,
            read_replica_manifest,
            start_replica_merge_manifest,
        )

        messages, expected = generate_envelopes(
            n=500, seed=23, truncate_every=220, key_space=150, pk_change_prob=0.3
        )
        src = str(tmp_path / "src")
        os.makedirs(src)

        def write(name, msgs, start):
            with open(os.path.join(src, name), "w") as f:
                for i, m in enumerate(msgs):
                    f.write(
                        json.dumps(
                            {"offset": start + i, "timestamp": start + i, "value": m}
                        )
                        + "\n"
                    )

        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
        write("a.json", messages[:250], 0)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        write("b.json", messages[250:], 250)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == expected


class TestCorruptRecords:
    """A malformed message must NEVER classify as truncate (null struct ⇒
    before/after null ⇒ would wipe the replica without the corrupt guard)."""

    def test_malformed_does_not_truncate(self, spark):
        from simple_cdc_service_spark.sources.changelog import corrupt_records

        rows = [
            (0, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 1})),
            (1, "THIS IS NOT JSON {"),
            (2, "123"),  # valid JSON, not an envelope object
        ]
        df = spark.createDataFrame(rows, "offset long, value string").withColumn(
            "timestamp", F.lit(0)
        )
        parsed = parse_envelopes(df)
        snap = cdc.snapshot_from_envelopes(parsed, INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert got == {1: 1}  # row 1 survived; corrupt rows changed nothing
        dead = corrupt_records(df)
        assert {r.offset for r in dead.collect()} == {1, 2}

    def test_streaming_parse_drops_corrupt(self, spark, tmp_path):
        import json as _json
        import os

        from simple_cdc_service_spark.config import INVOICE as CFG_INV
        from simple_cdc_service_spark.streaming import (
            read_changelog_stream,
            read_replica_manifest,
            start_replica_merge_manifest,
        )
        from simple_cdc_service_spark.sources.changelog import _envelope

        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as f:
            f.write(_json.dumps({"offset": 0, "timestamp": 1,
                "value": _json.dumps(_envelope("c", None, {"order_id": 5, "invoice_number": 50}, 1, 1))}) + "\n")
            f.write(_json.dumps({"offset": 1, "timestamp": 2, "value": "garbage!!"}) + "\n")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), CFG_INV, state, ckpt
        ).awaitTermination()
        got = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, state).collect()}
        assert got == {5: 50}


class TestPKChangingUpdate:
    """before.key != after.key: the reference corrupts its replica
    (UPDATE WHERE pk = before.pk, main.py:56-70); we emit
    delete(old key) + insert(new key) from the one envelope."""

    def test_old_key_removed_new_key_present(self, spark):
        rows = [
            (0, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 10})),
            (1, _mk_envelope("u", {"order_id": 1, "invoice_number": 10},
                             {"order_id": 2, "invoice_number": 10})),  # PK 1 -> 2
        ]
        df = spark.createDataFrame(rows, "offset long, value string").withColumn(
            "timestamp", F.lit(0)
        )
        snap = cdc.snapshot_from_envelopes(parse_envelopes(df), INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert got == {2: 10}

    def test_pk_change_then_reinsert_old_key(self, spark):
        rows = [
            (0, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 10})),
            (1, _mk_envelope("u", {"order_id": 1, "invoice_number": 10},
                             {"order_id": 2, "invoice_number": 10})),
            (2, _mk_envelope("c", None, {"order_id": 1, "invoice_number": 99})),
        ]
        df = spark.createDataFrame(rows, "offset long, value string").withColumn(
            "timestamp", F.lit(0)
        )
        snap = cdc.snapshot_from_envelopes(parse_envelopes(df), INVOICE)
        got = {r.order_id: r.invoice_number for r in snap.collect()}
        assert got == {1: 99, 2: 10}


class TestCompositeKeysAndOrder:
    """ChangeTableConfig generality: multi-column merge keys and
    multi-column (binlog-coordinate) ordering."""

    def test_two_column_key(self, spark):
        cfg = ChangeTableConfig(
            name="t2", key_columns=("region", "order_id"),
            value_columns=("amount",), order_columns=("offset",),
        )
        rows = [
            (0, "c", "eu", 1, 10),
            (1, "c", "us", 1, 99),   # same order_id, different region
            (2, "u", "eu", 1, 11),
            (3, "d", "us", 1, None),
            (4, "c", "us", 2, 50),
        ]
        ch = spark.createDataFrame(
            rows, "offset long, op string, region string, order_id long, amount long"
        )
        got = {(r.region, r.order_id): r.amount
               for r in cdc.collapse_changelog(ch, cfg).collect()}
        assert got == {("eu", 1): 11, ("us", 2): 50}

    def test_binlog_coordinate_ordering(self, spark):
        """Order by (file, pos) — the Debezium coordinates
        (example/insert.json:186-190) — instead of a single offset. Rows
        arrive shuffled; the collapse must follow the coordinate order, not
        arrival order."""
        cfg = ChangeTableConfig(
            name="t3", key_columns=("order_id",), value_columns=("amount",),
            order_columns=("source_file", "source_pos"),
        )
        rows = [  # arrival order deliberately scrambled
            ("binlog.000002", 120, "u", 1, 12),
            ("binlog.000001", 900, "c", 1, 10),
            ("binlog.000002", 50, "u", 1, 11),
            ("binlog.000001", 950, "d", 2, None),
            ("binlog.000001", 940, "c", 2, 20),
        ]
        ch = spark.createDataFrame(
            rows, "source_file string, source_pos long, op string, order_id long, amount long"
        )
        got = {r.order_id: r.amount for r in cdc.collapse_changelog(ch, cfg).collect()}
        # key 1: latest by (file,pos) = binlog.000002/120 -> 12
        # key 2: created then deleted within file 1 -> absent
        assert got == {1: 12}

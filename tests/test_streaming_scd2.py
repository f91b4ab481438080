"""Streaming SCD2 history sink: incremental maintenance must replay to the
exact output of the batch operator, current versions must equal the
replica, and truncate must wipe history (R10 semantics). The history is a
manifest store: a batch rewrites only the files its keys touch, a crash
before the commit replays, and compaction keeps every version."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_cdc_service_spark.config import INVOICE
from simple_cdc_service_spark.sources.changelog import (
    _envelope,
    envelopes_df,
    generate_envelopes,
    parse_envelopes,
)
from simple_cdc_service_spark.streaming import (
    read_changelog_stream,
    read_replica_manifest,
    start_replica_merge_manifest,
    start_scd2_merge,
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


def _history_rows(df):
    """Canonical comparable form: flatten the struct order coordinate to
    its offset component (unique in these tests)."""
    out = df.select(
        "order_id",
        "invoice_number",
        F.col("valid_from.o").alias("vf"),
        F.col("valid_to.o").alias("vt"),
        "is_current",
    ).collect()
    return sorted((r.order_id, r.invoice_number, r.vf, r.vt, r.is_current) for r in out)


def _batch_scd2(spark, msgs):
    """The batch operator over the full concatenated changelog, using the
    SAME order coordinate the streaming merge uses."""
    from simple_cdc_service_spark.operators.cdc import envelope_changelog, scd2_history
    from simple_cdc_service_spark.streaming.pipeline import _ORDER_COORDINATE

    parsed = parse_envelopes(envelopes_df(spark, msgs)).withColumn(
        "__ord", F.expr(_ORDER_COORDINATE)
    )
    ch = envelope_changelog(parsed, INVOICE, passthrough_cols=("__ord",))
    return scd2_history(
        ch,
        key_cols=("order_id",),
        value_cols=("invoice_number",),
        order_col="__ord",
    )


def test_scd2_incremental_matches_batch_operator(spark, tmp_path):
    """Three availableNow runs over one checkpoint must leave exactly the
    history the batch operator derives from the whole stream — versions,
    intervals, and open/closed flags all byte-equal."""
    msgs, _ = generate_envelopes(n=300, seed=11, truncate_every=None, key_space=60)
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    for i, (lo, hi) in enumerate([(0, 100), (100, 200), (200, 300)]):
        _write_batch(src, f"part{i}.json", msgs[lo:hi], lo)
        start_scd2_merge(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
    got = _history_rows(read_replica_manifest(spark, state))
    want = _history_rows(_batch_scd2(spark, msgs))
    assert got == want


def test_scd2_current_versions_equal_replica(spark, tmp_path):
    """The open versions of the history ARE the replica: run both sinks
    over the same two-chunk stream and compare key→value maps."""
    msgs, expected = generate_envelopes(n=250, seed=5, truncate_every=120, key_space=80)
    src, hstate, hckpt = (str(tmp_path / d) for d in ("src", "h", "hc"))
    rstate, rckpt = str(tmp_path / "r"), str(tmp_path / "rc")
    for i, (lo, hi) in enumerate([(0, 150), (150, 250)]):
        _write_batch(src, f"part{i}.json", msgs[lo:hi], lo)
        start_scd2_merge(
            read_changelog_stream(spark, src), INVOICE, hstate, hckpt
        ).awaitTermination()
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, rstate, rckpt
        ).awaitTermination()
    cur = read_replica_manifest(spark, hstate).filter("is_current")
    got = {r.order_id: r.invoice_number for r in cur.collect()}
    rep = {r.order_id: r.invoice_number for r in read_replica_manifest(spark, rstate).collect()}
    assert got == rep == expected


def test_scd2_truncate_wipes_history(spark, tmp_path):
    """A truncate in batch 2 must erase every pre-truncate version — not
    close them, ERASE them (only the live epoch is versioned, matching the
    batch operator and the reference's TRUNCATE TABLE, main.py:88-90)."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    b1 = [
        json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 1, 1)),
        json.dumps(
            _envelope(
                "u",
                {"order_id": 1, "invoice_number": 10},
                {"order_id": 1, "invoice_number": 11},
                2,
                2,
            )
        ),
    ]
    _write_batch(src, "b1.json", b1, 0)
    start_scd2_merge(
        read_changelog_stream(spark, src), INVOICE, state, ckpt
    ).awaitTermination()
    assert read_replica_manifest(spark, state).count() == 2  # v10 closed + v11 open

    b2 = [
        json.dumps(_envelope("t", None, None, 3, 3)),
        json.dumps(_envelope("c", None, {"order_id": 7, "invoice_number": 70}, 4, 4)),
    ]
    _write_batch(src, "b2.json", b2, 2)
    start_scd2_merge(
        read_changelog_stream(spark, src), INVOICE, state, ckpt
    ).awaitTermination()
    rows = read_replica_manifest(spark, state).collect()
    assert len(rows) == 1
    assert rows[0].order_id == 7 and rows[0].is_current


def test_scd2_schema_evolution_mid_stream(spark, tmp_path):
    """The table config grows a value column between batches (Debezium
    schema-change, enabled-but-ignored in the reference,
    debezium-config-push.sh:21): pre-evolution versions must survive with
    NULL for the new column, get CLOSED correctly by post-evolution
    events, and new versions carry the new column."""
    from pyspark.sql import types as T

    from simple_cdc_service_spark.config import ChangeTableConfig
    from simple_cdc_service_spark.schemas import INVOICE_ROW, row_schema
    from simple_cdc_service_spark.streaming.pipeline import _merge_scd2_batch

    state = str(tmp_path / "state")
    cfg_v1 = INVOICE
    b0 = [json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 1, 1))]
    _merge_scd2_batch(parse_envelopes(envelopes_df(spark, b0), INVOICE_ROW), cfg_v1, state, 0)

    evolved_row = row_schema(
        {
            "order_id": T.LongType(),
            "invoice_number": T.LongType(),
            "amount": T.LongType(),
        }
    )
    cfg_v2 = ChangeTableConfig(
        name="invoice",
        key_columns=("order_id",),
        value_columns=("invoice_number", "amount"),
    )
    b1 = [
        json.dumps(
            _envelope(
                "u",
                {"order_id": 1, "invoice_number": 10, "amount": None},
                {"order_id": 1, "invoice_number": 11, "amount": 99},
                2,
                2,
            )
        )
    ]
    _merge_scd2_batch(parse_envelopes(envelopes_df(spark, b1), evolved_row), cfg_v2, state, 1)

    hist = read_replica_manifest(spark, state).toPandas()
    old = hist[~hist["is_current"]].iloc[0]
    new = hist[hist["is_current"]].iloc[0]
    assert old["invoice_number"] == 10 and pd.isna(old["amount"])
    assert old["valid_to"] is not None
    assert new["invoice_number"] == 11 and new["amount"] == 99


def test_scd2_delete_closes_without_emitting(spark, tmp_path):
    """A delete closes the key's open version and adds no row; the key
    then has zero current versions but keeps its closed history."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    b1 = [json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 1, 1))]
    _write_batch(src, "b1.json", b1, 0)
    start_scd2_merge(
        read_changelog_stream(spark, src), INVOICE, state, ckpt
    ).awaitTermination()

    b2 = [json.dumps(_envelope("d", {"order_id": 1, "invoice_number": 10}, None, 2, 2))]
    _write_batch(src, "b2.json", b2, 1)
    start_scd2_merge(
        read_changelog_stream(spark, src), INVOICE, state, ckpt
    ).awaitTermination()
    rows = read_replica_manifest(spark, state).collect()
    assert len(rows) == 1
    r = rows[0]
    assert not r.is_current and r.valid_to is not None and r.invoice_number == 10


def _kafka(spark, msgs, start):
    """Kafka-shaped frame whose offsets continue from ``start``, so that
    per-batch frames concatenate into one stream's offsets."""
    rows = [(start + i, start + i, m) for i, m in enumerate(msgs)]
    return spark.createDataFrame(rows, "offset long, timestamp long, value string")


def _versions(df):
    """Every version with all its columns, order coordinates as tuples."""
    return sorted(
        (
            r.order_id,
            r.invoice_number,
            tuple(r.valid_from),
            tuple(r.valid_to or ()),
            r.is_current,
        )
        for r in df.collect()
    )


def _merge_chunks(spark, state, chunks, target_rows_per_file, first_batch=0, start=0):
    """Merge each chunk of messages as one micro-batch, batch ids from
    ``first_batch`` and offsets from ``start``, continuing across chunks."""
    from simple_cdc_service_spark.streaming.pipeline import _merge_scd2_batch

    for b, chunk in enumerate(chunks):
        _merge_scd2_batch(
            parse_envelopes(_kafka(spark, chunk, start)), INVOICE, state,
            first_batch + b, target_rows_per_file,
        )
        start += len(chunk)


def _scd2_of(spark, msgs):
    """scd2_history over the whole concatenated changelog (offsets from 0,
    as _merge_chunks numbers them)."""
    from simple_cdc_service_spark.operators.cdc import envelope_changelog, scd2_history
    from simple_cdc_service_spark.streaming.pipeline import _ORDER_COORDINATE

    parsed = parse_envelopes(_kafka(spark, msgs, 0)).withColumn(
        "__ord", F.expr(_ORDER_COORDINATE)
    )
    ch = envelope_changelog(parsed, INVOICE, passthrough_cols=("__ord",))
    return scd2_history(
        ch, key_cols=("order_id",), value_cols=("invoice_number",), order_col="__ord"
    )


def _upsert(op, k, v, pos):
    before = None if op == "c" else {"order_id": k, "invoice_number": -1}
    return json.dumps(_envelope(op, before, {"order_id": k, "invoice_number": v}, pos, pos))


def test_scd2_hot_batch_rewrites_only_touched_files(spark, tmp_path):
    """On a history of many files, a batch that updates one key reads and
    rewrites only the file holding that key: the rows it writes are that
    file's rows plus its own versions, not the whole history — and the
    history still equals the batch operator's."""
    from simple_cdc_service_spark.streaming.pipeline import _read_manifest

    state = str(tmp_path / "state")
    chunks = [
        [_upsert("c", k, k, 1 + k) for k in range(200)],
        [_upsert("u", k, 1000 + k, 1000 + k) for k in range(100)],
        [_upsert("u", 42, 7, 5000)],
    ]
    _merge_chunks(spark, state, chunks, target_rows_per_file=20)

    prev, m = _read_manifest(state, 1), _read_manifest(state, 2)
    assert m["files_total"] == len(prev["files"]) >= 10
    assert m["files_touched"] / m["files_total"] < 0.15
    carried = {e["path"] for e in m["files"]}
    touched_rows = sum(e["rows"] for e in prev["files"] if e["path"] not in carried)
    written = spark.read.parquet(str(tmp_path / "state" / "data" / "v2")).count()
    assert written <= touched_rows + 1  # one update: one new version
    msgs = [m for c in chunks for m in c]
    got = _versions(read_replica_manifest(spark, state))
    assert got == _versions(_scd2_of(spark, msgs))
    assert len(got) == 301


def test_scd2_commit_crash_then_rerun_equals_replay(spark, tmp_path, monkeypatch):
    """Kill the merge after a batch's data files are written but before
    its manifest commits, then rerun the same batch id: the history must
    equal the batch operator over the whole changelog, and its current
    versions the sequential replay."""
    from simple_cdc_service_spark.streaming import pipeline

    msgs, expected = generate_envelopes(n=300, seed=9, truncate_every=140, key_space=50)
    chunks = [msgs[:100], msgs[100:200], msgs[200:]]
    state = str(tmp_path / "state")
    _merge_chunks(spark, state, chunks[:1], target_rows_per_file=10)

    commit = pipeline._commit_manifest
    crashed = []

    def crash_once(state_dir, version, manifest):
        if not crashed:
            crashed.append(version)
            raise RuntimeError("killed before the commit")
        commit(state_dir, version, manifest)

    monkeypatch.setattr(pipeline, "_commit_manifest", crash_once)
    with pytest.raises(RuntimeError, match="killed"):
        _merge_chunks(spark, state, chunks[1:2], 10, first_batch=1, start=100)
    assert crashed == [1]
    assert os.listdir(str(tmp_path / "state" / "data" / "v1"))
    assert pipeline._manifest_versions(state) == [0]
    # the rerun: same batch id, same offsets, then the next batch
    _merge_chunks(spark, state, chunks[1:], 10, first_batch=1, start=100)
    hist = read_replica_manifest(spark, state)
    assert _versions(hist) == _versions(_scd2_of(spark, msgs))
    cur = {r.order_id: r.invoice_number for r in hist.filter("is_current").collect()}
    assert cur == expected


def test_scd2_compaction_keeps_every_version(spark, tmp_path):
    """Compacting a history store of small files reads back identical
    rows, and the stream continues on the compacted store."""
    from simple_cdc_service_spark.streaming import compact_manifest_store

    msgs, _ = generate_envelopes(n=300, seed=21, truncate_every=None, key_space=80)
    chunks = [msgs[i:i + 50] for i in range(0, 250, 50)]
    state = str(tmp_path / "state")
    _merge_chunks(spark, state, chunks, target_rows_per_file=8)
    before = _versions(read_replica_manifest(spark, state))

    m = compact_manifest_store(spark, state, target_rows_per_file=60, min_files=2)
    assert m is not None and m["compacted_from"] > 0
    assert _versions(read_replica_manifest(spark, state)) == before

    _merge_chunks(spark, state, [msgs[250:]], 8, first_batch=5, start=250)
    assert _versions(read_replica_manifest(spark, state)) == _versions(_scd2_of(spark, msgs))

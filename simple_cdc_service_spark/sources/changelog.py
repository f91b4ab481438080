"""Changelog sources.

Two ways to obtain a CDC changelog:

1. ``derive_changelog`` — a deterministic mapping from the driver's
   ``events`` table to a keyed changelog. This is what the oracle-checked
   queries use: the exact same derivation is expressible in DuckDB SQL, so
   engine and oracle see identical inputs.

2. ``generate_envelopes`` — a seeded generator of Debezium-style envelope
   JSON strings, the rebuild of the reference's workload sequencer
   (sequencer.py:42-77). The reference generator is unseeded and — due to a
   bug where all three branches call ``insert`` (sequencer.py:54,58,62) —
   effectively insert-only; ours is seeded and emits a real
   insert/update/delete/truncate mix so every consumer branch is exercised
   (SURVEY.md §5, FIXTURES.md §3).

Plus ``parse_envelopes`` — the Spark-side of the reference consumer's
decode step (json.loads, main.py:43) as a single ``from_json`` over a
declared schema.
"""

from __future__ import annotations

import functools
import json
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import sql_str
from ..schemas import INVOICE_ROW, kafka_message_schema

# ---------------------------------------------------------------------------
# 1. Deterministic changelog over the driver's `events` table.
#
# Mapping (must stay in lockstep with CHANGELOG_ORACLE_CTE below):
#   offset  = event_id                  (total order; Kafka-offset stand-in)
#   user_id = user_id                   (merge key)
#   op      = signup→'c', purchase/click→'u', view→'d',
#             error→'t' when event_id % 500 == 0 else 'c'
#   val     = round(value, 2)
# The rare 't' rows exercise the truncate-epoch semantics (reference
# main.py:88-90: both sides null ⇒ TRUNCATE TABLE).
# ---------------------------------------------------------------------------


def derive_changelog(events: DataFrame) -> DataFrame:
    op = (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type").isin("purchase", "click"), F.lit("u"))
        .when(F.col("event_type") == "view", F.lit("d"))
        .when(
            (F.col("event_type") == "error") & (F.col("event_id") % 500 == 0),
            F.lit("t"),
        )
        .otherwise(F.lit("c"))
    )
    return events.select(
        F.col("event_id").alias("ev_offset"),
        F.col("user_id"),
        op.alias("op"),
        F.round("value", 2).alias("val"),
        F.col("ts"),
        F.col("ts_ms"),
    )


# The same derivation as a DuckDB CTE body (registry oracle SQL composes it).
CHANGELOG_ORACLE_CTE = """
    SELECT event_id AS ev_offset,
           user_id,
           CASE WHEN event_type = 'signup' THEN 'c'
                WHEN event_type IN ('purchase', 'click') THEN 'u'
                WHEN event_type = 'view' THEN 'd'
                WHEN event_type = 'error' AND event_id % 500 = 0 THEN 't'
                ELSE 'c' END AS op,
           round(value, 2) AS val,
           ts,
           epoch_ms(ts) AS ts_ms
    FROM events
"""


# ---------------------------------------------------------------------------
# 2. Seeded Debezium-envelope workload generator (reference sequencer rebuild).
# ---------------------------------------------------------------------------


def _envelope(op: str, before: dict | None, after: dict | None, pos: int, ts_ms: int) -> dict:
    """One Debezium-style payload (shape per the reference's
    kafka-consumer-service/example/insert.json:169-195)."""
    return {
        "payload": {
            "before": before,
            "after": after,
            "source": {
                "version": "2.1.4.Final",
                "connector": "mysql",
                "name": "source",
                "ts_ms": ts_ms,
                "snapshot": "false",
                "db": "dev",
                "sequence": None,
                "table": "invoice",
                "server_id": 1,
                "gtid": None,
                "file": "binlog.000002",
                "pos": pos,
                "row": 0,
                "thread": 13,
                "query": None,
            },
            "op": op,
            "ts_ms": ts_ms,
            "transaction": None,
        }
    }


def generate_envelopes(
    n: int = 1800,
    seed: int = 42,
    truncate_every: int | None = 400,
    key_space: int | None = None,
    pk_change_prob: float = 0.0,
) -> tuple[list[str], dict[int, int]]:
    """Seeded insert/update/delete/truncate workload.

    Returns ``(messages, expected_state)`` where ``messages`` are Kafka-style
    JSON strings (one envelope each, offset = list index) and
    ``expected_state`` is the replica state a sequential replay must reach —
    the python-side oracle for unit tests (mirrors the role MySQL plays in
    the reference's consistency tests, tests/test_consistency.py:38-75).

    By default update events never change the key, matching the reference's
    PK-immutability assumption (main.py:56-70, SURVEY.md §1.3).
    ``pk_change_prob`` makes that fraction of updates move the row to a
    fresh key (before.key ≠ after.key) — the case the reference would
    corrupt (stale old-key row); the oracle applies the correct
    delete(old)+insert(new) semantics the engine must reproduce.
    """
    rng = random.Random(seed)
    key_space = key_space or n
    state: dict[int, int] = {}
    messages: list[str] = []
    pos = 100
    next_fresh = key_space  # PK-changed rows move to keys above key_space
    for i in range(n):
        ts_ms = 1_700_000_000_000 + i * 1000
        if truncate_every and i > 0 and i % truncate_every == 0:
            messages.append(json.dumps(_envelope("t", None, None, pos, ts_ms)))
            state.clear()
            pos += 50
            continue
        k = rng.randrange(key_space)
        roll = rng.random()
        if k in state and roll < 0.35:
            before = {"order_id": k, "invoice_number": state[k]}
            if rng.random() < pk_change_prob:
                new_k = next_fresh
                next_fresh += 1
                after = {"order_id": new_k, "invoice_number": state[k] + 1}
                messages.append(json.dumps(_envelope("u", before, after, pos, ts_ms)))
                state[new_k] = state.pop(k) + 1
            else:
                after = {"order_id": k, "invoice_number": state[k] + 1}
                messages.append(json.dumps(_envelope("u", before, after, pos, ts_ms)))
                state[k] = state[k] + 1
        elif k in state and roll < 0.55:
            before = {"order_id": k, "invoice_number": state[k]}
            messages.append(json.dumps(_envelope("d", before, None, pos, ts_ms)))
            del state[k]
        elif k not in state:
            after = {"order_id": k, "invoice_number": k}
            messages.append(json.dumps(_envelope("c", None, after, pos, ts_ms)))
            state[k] = k
        else:
            # key exists, roll said insert → emit an update instead (the
            # reference would hit a PK-duplicate failure and swallow it,
            # sequencer.py:69-71; we keep the stream valid).
            before = {"order_id": k, "invoice_number": state[k]}
            after = {"order_id": k, "invoice_number": state[k] + 1}
            messages.append(json.dumps(_envelope("u", before, after, pos, ts_ms)))
            state[k] = state[k] + 1
        pos += 10
    return messages, state


def envelopes_df(spark: SparkSession, messages: list[str]) -> DataFrame:
    """Kafka-shaped DataFrame: (offset, timestamp, value) like the columns a
    ``readStream.format("kafka")`` source exposes."""
    rows = [(i, 1_700_000_000_000 + i * 1000, m) for i, m in enumerate(messages)]
    return spark.createDataFrame(rows, "offset long, timestamp long, value string")


def _decoded(row_schema) -> str:
    """FROM-clause text shared by parse_envelopes and corrupt_records:
    the non-tombstone messages of the ``{kafka}`` frame (tombstone skip,
    R2) with their envelope decoded as ``msg`` by one ``from_json`` over
    the declared schema."""
    schema = sql_str(kafka_message_schema(row_schema).json())
    return (
        "(SELECT `offset`, `timestamp`, CAST(value AS STRING) AS raw, "
        f"from_json(CAST(value AS STRING), {schema}) AS msg "
        "FROM {kafka} WHERE value IS NOT NULL)"
    )


@functools.lru_cache(maxsize=None)
def _parse_sql(row_schema) -> str:
    payload = [
        "before", "after", "op", "ts_ms",
        # routes a multi-table stream (start_multi_table_merge)
        "source.table AS source_table",
        # Binlog coordinates: the cross-partition total order of the
        # streaming merges. NULL for sources without them.
        "source.file AS source_file",
        "source.pos AS source_pos",
        "source.row AS source_row",
    ]
    cols = ", ".join(f"msg.payload.{c}" for c in payload)
    # Malformed JSON yields a NULL struct from from_json. Without the
    # payload guard such a record has before=after=NULL and the null-ness
    # classifier reads it as a TRUNCATE — one corrupt message would wipe
    # the replica. Corrupt records are dropped here; route them to a
    # dead-letter sink with ``corrupt_records`` for auditing.
    return (
        f"SELECT `offset`, `timestamp`, raw, {cols} "
        f"FROM {_decoded(row_schema)} WHERE msg.payload IS NOT NULL"
    )


def parse_envelopes(kafka_df: DataFrame, row_schema=INVOICE_ROW) -> DataFrame:
    """Decode Kafka messages into typed change events — the one envelope
    parser of the batch operators and every streaming sink.

    Reference: bytes → utf-8 → json.loads per message (main.py:43). Here:
    one ``from_json`` over the declared envelope schema — JVM-side,
    whole-stage-codegen friendly, no Python in the loop. Tombstones (null
    value) are dropped exactly as the consumer does (main.py:37-38), and
    so are corrupt (unparseable) messages. The plan is one ``spark.sql``
    statement whose text is built once per row schema; streaming frames
    parse the same way.
    """
    return kafka_df.sparkSession.sql(_parse_sql(row_schema), kafka=kafka_df)


def corrupt_records(kafka_df: DataFrame, row_schema=INVOICE_ROW) -> DataFrame:
    """Dead-letter view: non-tombstone messages whose envelope failed to
    parse (the complement of parse_envelopes' corrupt guard)."""
    return kafka_df.sparkSession.sql(
        f"SELECT `offset`, `timestamp`, raw FROM {_decoded(row_schema)} "
        "WHERE msg.payload IS NULL",
        kafka=kafka_df,
    )

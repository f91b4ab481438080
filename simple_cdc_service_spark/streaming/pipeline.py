"""Structured Streaming rebuild of the reference consumer loop
(kafka-consumer-service/main.py:20-93).

The reference: one synchronous Python loop, `latest` offsets, no consumer
group — a restart silently drops everything (main.py:25-28). Here the same
dataflow is a checkpointed Structured Streaming job:

    readStream (Kafka or file-JSON in tests)
      ├─ sink 1: raw event log, append-only       (R4, main.py:42-45)
      └─ sink 2: foreachBatch replica merge       (R5-R11, main.py:47-93)

which upgrades delivery to effectively-exactly-once: offsets live in the
checkpoint, and the merge is idempotent per micro-batch (re-running a
failed batch rewrites the same state version).

Scale notes:
  * One versioned store, the manifest store, for the replica
    (start_replica_merge_manifest), the SCD2 history (start_scd2_merge)
    and the admission corpus (start_corpus_dedup_admission): versioned
    manifests that list the store's files with their key stats, committed
    by one rename each. A rewrite touches only the files its keys land
    in and carries the rest by reference — the local stand-in for
    Delta/Iceberg MERGE. When no file can be carried (uniform keys touch
    every file of a clustered store) the rewrite is written flat, as the
    merge leaves it, with no range shuffle; the next rewrite that touches
    those files re-clusters them. One vacuum and one compaction serve
    all three, over every file list a manifest holds.
  * The replica is MERGE-ON-READ (Iceberg v2 equality deletes, Hudi MOR
    tables): each micro-batch writes only its changes, one DELTA file,
    and readers resolve the deltas over the clustered files.
    The rewrite above is a FOLD, paid once a target file's worth of delta
    rows has built up, so a batch costs the batch, not the files it
    touches. The SCD2 history has no deltas: each batch rewrites its
    touched files.
  * The replica's stream is parsed and derived into its changelog ONCE,
    at query start. Per-batch driver work — plan building and job
    scheduling — is fixed overhead that dominates a small batch, so a
    batch that does not fold writes its changelog rows as they stand, one
    map-only job (pinned by test), and the driver reads what it needs
    from the delta file with pyarrow. The per-key collapse (one shuffle
    on the key) is the resolver's, which collapses across batches anyway.
  * Per-batch commit I/O is fixed overhead too. A trigger writes three
    checkpoint log entries (the source log, offsets, commits); get_spark
    commits them through the Hadoop FileSystem API, because without
    native libhadoop the FileContext default starts child processes for
    every rename. The store's writes skip the job's _SUCCESS marker
    (_NO_SUCCESS_MARKER): the manifest rename is their commit.
  * Kafka parallelism = topic partitions; OFFSETS ONLY ORDER WITHIN ONE
    PARTITION, so Kafka (partition, offset) is not a total order over a
    multi-partition topic. A batch's events are therefore ordered by the
    Debezium binlog coordinates (source.file, source.pos, source.row) —
    a total order assigned by the single source database, valid however
    the events were partitioned in transit — with the Kafka offset as a
    fallback for sources that lack them (the file-JSON test stand-in).
    The reference gets ordering implicitly from a single-partition topic
    and one consumer (main.py:25-29); binlog coordinates are the explicit
    contract that survives scaling the topic out.
"""

from __future__ import annotations

import contextlib
import functools
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import ChangeTableConfig
from ..operators.cdc import changelog_sql, classify_op, scd2_history
from ..schemas import INVOICE_ROW
from ..sources.changelog import parse_envelopes

KAFKA_LIKE_SCHEMA = "offset long, timestamp long, value string"


def read_changelog_stream(spark: SparkSession, path: str) -> DataFrame:
    """Test-mode source: a directory of JSON-lines files with Kafka-shaped
    records (offset, timestamp, value). Swap for the real Kafka source with
    ``kafka_changelog_stream`` — everything downstream is identical."""
    return spark.readStream.schema(KAFKA_LIKE_SCHEMA).json(path)


def kafka_changelog_stream(
    spark: SparkSession, bootstrap: str, topic: str, starting: str = "earliest"
) -> DataFrame:
    """Production source (reference subscribes to source.dev.invoice,
    main.py:25-29 — but with `latest` and no group; we default to
    `earliest` + checkpointing so restarts replay instead of dropping).
    Not exercised in tests (no broker in the container); the returned frame
    has the same (offset, timestamp, value) shape as the test source, plus
    the Kafka partition. NB: (partition, offset) is NOT a total order — the
    merge orders by the Debezium binlog coordinates carried inside the
    envelope (see module docstring)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .load()
    )
    return raw.select(
        F.col("partition"),
        F.col("offset"),
        F.unix_millis(F.col("timestamp")).alias("timestamp"),
        F.col("value").cast("string").alias("value"),
    )


# The changelog total-order coordinate: Debezium binlog position
# (file, pos, row) first — valid across Kafka partitions — with the Kafka
# offset both as a tiebreaker and as the fallback when the source carries
# no binlog metadata (file-JSON test stand-in, non-Debezium feeds). Struct
# comparison is lexicographic, so rows WITH coordinates order by them and
# coordinate-free streams degrade to offset order (the single-partition
# assumption the reference always makes). SQL text over parse_envelopes
# output.
_ORDER_COORDINATE = (
    "named_struct('f', coalesce(source_file, ''), "
    "'p', coalesce(source_pos, `offset`), "
    "'r', coalesce(source_row, 0), 'o', `offset`)"
)


def start_event_log_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    partition_by_day: bool = False,
):
    """Sink 1: append-only raw log (timestamp, kafka_message) — the
    dev.kafka_message_log table (clickhouse/init-script/db-table-init.sql:3-9).
    Pure projection, no shuffle. ``partition_by_day`` adds a derived
    log_date partition column — at scale that is what makes retention a
    directory delete and time-scoped replays a pruned scan (and it bounds
    compact_parquet_dir to closed partitions)."""
    log = stream.filter(F.col("value").isNotNull()).select(
        F.col("timestamp").cast("long").alias("timestamp"),
        F.col("value").alias("kafka_message"),
    )
    if partition_by_day:
        log = log.withColumn(
            "log_date", F.date_format(F.timestamp_millis(F.col("timestamp")), "yyyy-MM-dd")
        )
    writer = (
        log.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by_day:
        writer = writer.partitionBy("log_date")
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@functools.lru_cache(maxsize=None)
def _changelog_sql(cfg: ChangeTableConfig) -> str:
    """The replica's and the SCD2 merge's statement: the flat changelog,
    each event with its order coordinate as ``__ord``."""
    return changelog_sql(cfg, {"__ord": _ORDER_COORDINATE})


class _Batch(NamedTuple):
    """One micro-batch, materialized once (see _materialized)."""

    rows: DataFrame  # the batch statement's output
    truncated: bool  # the batch holds a truncate: prior state is wiped
    keys: list  # sorted distinct non-NULL first-key values (manifest pruning)
    n: int  # output rows


@contextlib.contextmanager
def _materialized(parsed: DataFrame, text: str, key0: str, truncate: F.Column):
    """Run one batch statement (``text``, a ``{parsed}`` template over the
    parsed envelopes) ONCE, materialized with an eager local checkpoint
    that every later step reads. One driver collect of (first key,
    ``truncate``) per output row gives emptiness, the truncate decision
    and the pruning keys.

    Yields None for an empty output, else a _Batch. The checkpoint is a
    local one, not a persist(): a cached plan pins the shuffle's
    configured partition count, where the checkpoint keeps AQE's
    coalesced one or two. Its storage is freed when the with-statement
    exits."""
    rows = parsed.sparkSession.sql(text, parsed=parsed).localCheckpoint(eager=True)
    try:
        probe = rows.select(key0, truncate).collect()
        if not probe:
            yield None
            return
        # the truncate events have NULL keys: no file range holds them,
        # and sorted() cannot order None against keys
        keys = sorted({r[0] for r in probe if r[0] is not None})
        yield _Batch(rows, any(r[1] for r in probe), keys, len(probe))
    finally:
        # the LogicalRDD under the checkpointed frame owns the blocks
        rows._jdf.queryExecution().analyzed().rdd().unpersist(False)


def start_streaming_dedup(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    id_cols: list[str],
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
):
    """E2: streaming exact dedup with bounded state —
    dropDuplicatesWithinWatermark keeps each id only within the watermark
    horizon, so state size is O(events per watermark window), not O(stream).
    The CDC use: replayed Debezium events deduped by binlog coordinates."""
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_counts(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    ts_col: str = "event_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
    slide: str | None = None,
):
    """E8 streaming form: watermarked tumbling-window counts, append mode
    (a window emits once it is below the watermark — late data beyond the
    watermark is dropped, the documented contrast to the reference's
    undefined late behavior, SURVEY.md §2). ``slide`` turns the windows
    sliding/hopping — each event feeds window/slide overlapping windows;
    state size grows by the same factor, watermarking unchanged."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win)
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_millis(F.col("window.start")).alias("win_start"),
            F.col("n"),
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_session_windows(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    ts_col: str = "event_time",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    trigger_available_now: bool = True,
):
    """E8 streaming session windows: gap-based sessions per key via the
    native session_window aggregation (state is merged session ranges, not
    raw events; a session emits once the watermark passes its close)."""
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_millis(F.col("session_window.start")).alias("session_start"),
            F.unix_millis(F.col("session_window.end")).alias("session_end"),
            F.col("n_events"),
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Manifest store: versioned replica with FILE-LEVEL KEY STATISTICS
# (r10, VERDICT r9 #3 — the in-container stand-in for what Delta/Iceberg
# file stats do for MERGE, and the exact conclusion of the r9 bucketing
# negative: hash buckets spread hot keys across 100% of buckets, while
# min/max key ranges keep them in FEW files).
# ---------------------------------------------------------------------------


def _manifest_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest")


def _manifest_versions(state_dir: str) -> list[int]:
    import re

    d = _manifest_dir(state_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(m.group(1))
        for f in os.listdir(d)
        # negative versions are the RESERVED bootstrap range (v-1.json):
        # they sort before every foreachBatch micro-batch id, so a
        # bootstrapped store never collides with stream batch 0
        # (ADVICE r10)
        if (m := re.fullmatch(r"v(-?\d+)\.json", f))
    )


def _read_manifest(state_dir: str, version: int) -> dict:
    import json as _json

    with open(os.path.join(_manifest_dir(state_dir), f"v{version}.json")) as f:
        return _json.load(f)


# The write option every manifest-store write takes: no _SUCCESS marker.
# The store's commit is the manifest rename (_commit_manifest), and nothing
# reads its files' markers; without native libhadoop, creating one starts
# child processes for its permissions. Only the stats sink still commits
# on its marker and keeps it.
_NO_SUCCESS_MARKER = ("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")


def _commit_manifest(state_dir: str, version: int, manifest: dict) -> None:
    """Write manifest ``version`` by one atomic rename: the commit point
    of a batch, a bootstrap or a compaction."""
    import json as _json

    mdir = _manifest_dir(state_dir)
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, f"v{version}.json")
    with open(path + ".tmp", "w") as f:
        _json.dump(manifest, f)
    os.replace(path + ".tmp", path)


def _latest_manifest(state_dir: str, before: int | None = None) -> dict | None:
    versions = _manifest_versions(state_dir)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    return _read_manifest(state_dir, versions[-1])


def _file_key_stats(path: str, key_col: str) -> tuple:
    """(rows, min, max, exact) for ``key_col`` from the parquet FOOTER —
    driver-side metadata only, no data pages. Parquet min/max statistics
    are VALID BOUNDS by spec even when truncated, so pruning against
    them can under-prune but never lose a key. ``exact=False`` (missing
    stats on a non-empty file) forces the file into every batch's
    touched set — conservative, never wrong."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = md.schema.to_arrow_schema().get_field_index(key_col)
    lo = hi = None
    ok = True
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            if md.row_group(rg).num_rows > 0:
                ok = False
            continue
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    # stats must round-trip through the JSON manifest AND order-compare
    # against batch keys — non-JSON key types (timestamps, bytes) fall
    # back to always-touched rather than mis-compare
    if not (
        isinstance(lo, (int, float, str, type(None)))
        and isinstance(hi, (int, float, str, type(None)))
    ):
        return md.num_rows, None, None, False
    return md.num_rows, lo, hi, ok


def _any_key_in_range(sorted_keys: list, lo, hi) -> bool:
    """True iff any batch key falls inside [lo, hi] (bisect over the
    sorted batch key list — exact membership of the RANGE, so a file
    whose span contains no batch key is pruned even when batch keys
    straddle it)."""
    import bisect

    if lo is None or hi is None or not sorted_keys:
        return False
    i = bisect.bisect_left(sorted_keys, lo)
    return i < len(sorted_keys) and sorted_keys[i] <= hi


def _overlapping(files: list[dict]) -> set[int]:
    """ids of the entries whose exact [min, max] key range overlaps
    another entry's. Only exact stats bound a file's keys, so only they
    are compared. One sort by min and a sweep over the running max: a run
    of ranges each starting at or below the run's max so far is one
    connected group, and every member of a group of two or more overlaps
    some other member. O(n log n) in the live file count."""
    ranged = sorted(
        (e for e in files if e.get("exact", True) and e["min"] is not None),
        key=lambda e: e["min"],
    )
    out: set[int] = set()
    group: list[dict] = []
    hi = None
    for e in ranged:
        if group and e["min"] <= hi:
            group.append(e)
            hi = max(hi, e["max"])
            continue
        if len(group) > 1:
            out.update(id(g) for g in group)
        group, hi = [e], e["max"]
    if len(group) > 1:
        out.update(id(g) for g in group)
    return out


def read_replica_manifest(
    spark: SparkSession,
    state_dir: str,
    before: int | None = None,
    version: int | None = None,
) -> DataFrame | None:
    """Current state of a manifest store (latest committed manifest),
    or None. It reads either kind of store: a replica
    (start_replica_merge_manifest) or an SCD2 history (start_scd2_merge).
    Untouched files are shared ACROSS versions by reference —
    reading version N touches only the files N's manifest lists.
    A replica version's live deltas are resolved at read time
    (_resolve): the base files' rows whose key a delta names give way to
    that key's newest delta row, and delete rows drop out. A history
    store has no deltas and reads its files as they stand.
    ``before`` reads the latest version STRICTLY BELOW that batch id.

    ``version`` is TIME TRAVEL (r11): read the store exactly as of
    committed manifest version ``version`` (a micro-batch id, or the
    reserved bootstrap -1) — the Delta ``VERSION AS OF`` / Iceberg
    snapshot-id read, expressible here because every manifest is an
    immutable full file listing and untouched files are shared across
    versions by reference. The travel horizon is the vacuum retention
    window: ``vacuum_manifest_store(keep=k)`` deletes manifests (and
    then-unreferenced files) older than the newest ``k`` versions, so a
    vacuumed-away version raises KeyError naming what IS available.
    Compaction rewrites only the LATEST manifest (content-identical),
    so prior versions keep reading bit-identically after a compact.
    Mutually exclusive with ``before``."""
    if version is not None:
        if before is not None:
            raise ValueError("pass either before= or version=, not both")
        versions = _manifest_versions(state_dir)
        if version not in versions:
            raise KeyError(
                f"manifest version {version} not present in {state_dir} "
                f"(available: {versions} — older versions may have been "
                f"vacuumed; see vacuum_manifest_store keep=)"
            )
        m = _read_manifest(state_dir, version)
    else:
        m = _latest_manifest(state_dir, before=before)
    if m is None:
        return None
    rows = _resolve(spark, state_dir, m, m["files"])
    return rows if rows is not None else spark.createDataFrame([], m["schema_ddl"])


def manifest_store_history(state_dir: str) -> list[dict]:
    """Commit history of a manifest store, oldest first — the Delta
    ``DESCRIBE HISTORY`` equivalent. One dict per retained committed
    version: version (micro-batch id; -1 = bootstrap), total_rows (rows
    of the base files; the live deltas' rows are not resolved against
    them, so it is the row count only when n_deltas is 0), n_files,
    files_touched (base files rewritten by that version's batch: 0 for a
    replica batch that did not fold, and for bootstrap/full writes),
    n_deltas and delta_rows (the live delta files and their rows: one
    per event, so a key a batch changes twice counts twice),
    folded (that batch folded the deltas into the base files), and
    compacted_from when a compaction has rewritten that version's file
    list. Driver-side metadata only — reads the manifest JSONs, never the
    data files."""
    out = []
    for v in _manifest_versions(state_dir):
        m = _read_manifest(state_dir, v)
        deltas = m.get("deltas", [])
        h = {
            "version": v,
            "total_rows": m["total_rows"],
            "n_files": len(m["files"]),
            "files_touched": m.get("files_touched", 0),
            "n_deltas": len(deltas),
            "delta_rows": sum(e["rows"] for e in deltas),
            "folded": m.get("folded", False),
        }
        if "compacted_from" in m:
            h["compacted_from"] = m["compacted_from"]
        out.append(h)
    return out


def _file_entries(state_dir: str, rel: str, key0: str) -> list[dict]:
    """Manifest entries, with footer key stats, for the parquet files just
    written under ``rel``. A zero-row file holds nothing to carry, and its
    empty key range would never be touched, so it is left out."""
    import glob as _glob

    entries = []
    for p in sorted(_glob.glob(os.path.join(state_dir, rel, "*.parquet"))):
        rows, lo, hi, exact = _file_key_stats(p, key0)
        if rows:
            entries.append(
                {
                    "path": os.path.join(rel, os.path.basename(p)),
                    "rows": rows,
                    "min": lo,
                    "max": hi,
                    "exact": exact,
                }
            )
    return entries


def _agg_row(spark: SparkSession, state_dir: str, manifest: dict):
    rows = spark.read.parquet(os.path.join(state_dir, manifest["agg"])).collect()
    return rows[0] if rows else None


def read_agg(spark: SparkSession, state_dir: str):
    """Incremental-aggregate row (sum_value, n_keys) of the latest
    committed manifest of a store maintained with agg_col, or None."""
    m = _latest_manifest(state_dir)
    return _agg_row(spark, state_dir, m) if m and "agg" in m else None


def _write_agg(
    spark: SparkSession,
    m: dict,
    delta: list[dict],
    prev: dict | None,
    agg_col: str,
    state_dir: str,
) -> str:
    """INCREMENTAL AGGREGATE MAINTENANCE (a streaming materialized view):
    a (sum_value, n_keys) row kept at state_dir/agg/v{N}, updated by
    per-key DELTAS — upsert contributes (new − old), delete contributes
    (−old), truncate resets — so the aggregate is never recomputed from
    the full store. The batch's rows are its delta files ``delta`` of
    version ``m``, collapsed (_last_events). The old values come from the
    previous version resolved over the base files that hold a batch key
    (_resolve): pruning is exact, so no batch key lives in an untouched
    file. The base is the predecessor manifest's aggregate. Returns the
    path the manifest records."""
    keys = m["keys"]
    batch = _read(spark, state_dir, m["schema_ddl"] + _DELTA_COLS, delta)
    d_sum, d_n = 0.0, 0
    if batch is not None:
        batch = _last_events(batch, keys)
        cur = None
        if prev is not None:
            touched, _ = _prune(prev, _delta_keys(state_dir, delta, m["key"]))
            cur = _resolve(spark, state_dir, prev, touched)
        if cur is not None:
            # __present is an explicit key-existence marker from the state
            # join. It must NOT be inferred from __old's nullness: schema
            # evolution (allowMissingColumns in the merge) backfills NULL
            # for a new column on pre-evolution rows, so a present key can
            # carry a NULL agg value — inferring absence from that
            # double-counts the key on upsert (+1) and drops its delete
            # (0), drifting n_keys.
            old_vals = cur.select(
                *keys, F.col(agg_col).alias("__old"), F.lit(True).alias("__present")
            )
            j = batch.join(old_vals, keys, "left")
        else:
            j = batch.withColumn("__old", F.lit(None).cast("double")).withColumn(
                "__present", F.lit(None).cast("boolean")
            )
        is_del = F.col("__op") == "d"
        present = F.col("__present").isNotNull()
        old = F.coalesce(F.col("__old").cast("double"), F.lit(0.0))
        d_sum_col = F.when(is_del, -old).otherwise(F.col(agg_col).cast("double") - old)
        d_n_col = F.when(is_del, F.when(present, -1).otherwise(0)).otherwise(
            F.when(present, 0).otherwise(1)
        )
        d_sum, d_n = j.agg(
            F.coalesce(F.sum(d_sum_col), F.lit(0.0)),
            F.coalesce(F.sum(d_n_col), F.lit(0)).cast("long"),
        ).collect()[0]
    base = _agg_row(spark, state_dir, prev) if prev else None
    base_sum = base.sum_value if base else 0.0
    base_n = base.n_keys if base else 0
    rel = os.path.join("agg", f"v{m['batch_id']}")
    spark.createDataFrame(
        [(float(base_sum + d_sum), int(base_n + d_n))],
        "sum_value double, n_keys long",
    ).write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
        os.path.join(state_dir, rel)
    )
    return rel


# The columns a delta file adds to the store's key and value columns:
# each event's op, its _ORDER_COORDINATE, and the batch id.
_DELTA_COLS = (
    ", `__op` string, `__ord` struct<f:string,p:bigint,r:int,o:bigint>, `__v` bigint"
)


def _read(
    spark: SparkSession, state_dir: str, ddl: str, entries: list[dict]
) -> DataFrame | None:
    """The manifest ``entries``' files as one frame, or None for none.
    Read under the MANIFEST's schema, not per-file inference: a store
    accretes files from many batches, and type widening (int→long on
    upsert) or schema evolution (new value column) leaves older
    untouched files narrower — the manifest records the widest schema
    so far; parquet upcasts/null-fills the old files under it, where
    mixed per-file inference refuses the read."""
    if not entries:
        return None
    return spark.read.schema(ddl).parquet(
        *[os.path.join(state_dir, e["path"]) for e in entries]
    )


def _last_events(rows: DataFrame, keys: list) -> DataFrame:
    """Each key's last event over delta ``rows`` (key and value columns
    and ``__op``, in the rows' order): the newest batch (``__v``) wins,
    and within a batch the binlog order (``__ord``), so arrival order
    never matters. The replica's one per-key collapse, behind _resolve
    and _write_agg; its struct ordering makes it a sort aggregate."""
    cols = [c for c in rows.columns if c not in ("__ord", "__v")]
    vals = [c for c in cols if c not in keys]
    last = F.max_by(F.struct(*vals), F.struct("__v", "__ord")).alias("__last")
    return rows.groupBy(*keys).agg(last).select(
        *[c if c in keys else F.col(f"__last.{c}").alias(c) for c in cols]
    )


def _resolve(
    spark: SparkSession, state_dir: str, m: dict, files: list[dict]
) -> DataFrame | None:
    """MERGE-ON-READ: manifest ``m``'s base ``files`` with m's live
    deltas applied, or None when there are neither. A delta holds every
    event of its batch, so a key's last event over the deltas is
    _last_events' collapse: the newest batch that names the key, and its
    last event there by binlog order. Base rows whose key a delta names
    give way to that event, and delete events drop out. The one resolver
    behind read_replica_manifest (every file, time travel) and the fold
    (the touched files), and the aggregate's old values. The delta keys
    broadcast: the fold bounds the live deltas to about a target file's
    worth of events."""
    base = _read(spark, state_dir, m["schema_ddl"], files)
    deltas = m.get("deltas")
    if not deltas:
        return base
    keys = m["keys"]
    last = _last_events(
        _read(spark, state_dir, m["schema_ddl"] + _DELTA_COLS, deltas), keys
    )
    upserts = last.filter(F.col("__op") != "d").drop("__op")
    if base is None:
        return upserts
    survivors = base.join(F.broadcast(last.select(*keys)), keys, "left_anti")
    return survivors.unionByName(upserts)


def _delta_keys(state_dir: str, deltas: list[dict], key0: str) -> list:
    """The sorted distinct first-key values of the ``deltas`` files, read
    by the driver with pyarrow: one column of a bounded set of small
    files, no Spark job. NULL keys are left out: no file range holds
    them, and sorted() cannot order None against keys."""
    import pyarrow.parquet as pq

    return sorted({
        k
        for e in deltas
        for k in pq.read_table(
            os.path.join(state_dir, e["path"]), columns=[key0]
        )[key0].to_pylist()
        if k is not None
    })


def _prune(prev: dict | None, keys: list) -> tuple[list, list]:
    """Split manifest ``prev``'s files by sorted first-key values
    ``keys``: (touched, untouched). A file is touched when its [min, max]
    key span contains at least one of the keys (exact bisect,
    driver-side, O(|keys| log)) or its stats are not exact. Pruning is
    exact, so no key lives in an untouched file: untouched files carry
    into the next version BY REFERENCE."""
    touched, untouched = [], []
    for e in prev["files"] if prev else ():
        if not e.get("exact", True) or _any_key_in_range(keys, e["min"], e["max"]):
            touched.append(e)
        else:
            untouched.append(e)
    return touched, untouched


def _widest_ddl(prev: dict | None, spark: SparkSession, fields: list) -> str:
    """The schema DDL a version records: the new rows' schema ``fields``
    widened by the previous manifest's. Widest-schema-so-far invariant
    (ADVICE r10): a version's new rows can be NARROWER than the previous
    manifest's recorded schema (a batch's rows alone, or an older value
    column missing) — recording them as-is would read the carried files
    under a narrower schema. Union the previous manifest's schema with
    the rows' via Spark's own unionByName coercion (the same widening the
    read of mixed-vintage files performs). Analysis only, no job, and
    none on a stable feed, whose DDL string equals the previous one."""
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
    if prev is None or prev["schema_ddl"] == ddl:
        return ddl
    old, new = (
        spark.createDataFrame([], s) for s in (prev["schema_ddl"], StructType(fields))
    )
    return _widest_ddl(None, spark, old.unionByName(new, allowMissingColumns=True).schema)


def _write_version(
    new_rows: DataFrame,
    state_dir: str,
    rel: str,
    batch_id: int,
    key0: str,
    prev: dict | None,
    touched: list,
    untouched: list,
    batch_rows: int,
    target_rows_per_file: int,
) -> dict:
    """Write a rewrite's new rows (the touched files' rows merged with
    the batch's, at most ``batch_rows`` of which are new) under ``rel``
    and return manifest ``batch_id``: the untouched files by reference,
    the new files with their key stats, under the widest schema so far.
    The caller commits it (_commit_manifest)."""
    # Flat write: the batch touches every file of a CLUSTERED store
    # (exact, pairwise-disjoint key ranges), so nothing is carried by
    # reference — the rows are written as they stand, with no
    # sampling job and no range shuffle. Its files are sized by the
    # scan splits and the batch's partitions, not by the target, and
    # their ranges overlap, so the next rewrite that touches them (hot
    # or uniform) is range-written and re-clusters them: a flat file
    # stays unclustered only until a rewrite touches it, and a uniform
    # feed alternates the two writes.
    flat = (
        bool(touched)
        and not untouched
        and all(e.get("exact", True) for e in prev["files"])
        and not _overlapping(prev["files"])
    )
    if not flat:
        # Range-partition new files by the stats key so hot key ranges
        # stay CLUSTERED — the property that makes the next rewrite's
        # pruning effective. File count scales with the rewritten
        # mass, not the store.
        est_rows = sum(e["rows"] for e in touched) + batch_rows
        n_new = max(1, min(256, -(-est_rows // target_rows_per_file)))
        new_rows = new_rows.repartitionByRange(n_new, F.col(key0))
    new_rows.write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
        os.path.join(state_dir, rel)
    )
    entries = untouched + _file_entries(state_dir, rel, key0)
    return {
        "batch_id": batch_id,
        "key": key0,
        "schema_ddl": _widest_ddl(prev, new_rows.sparkSession, new_rows.schema.fields),
        "files": entries,
        "total_rows": sum(e["rows"] for e in entries),
        "files_total": len(prev["files"]) if prev else 0,
        "files_touched": len(touched),
    }


def _write_delta(
    changes: DataFrame, cfg: ChangeTableConfig, state_dir: str, batch_id: int
) -> tuple[list[dict], bool] | None:
    """Write a micro-batch's changelog rows (_changelog_sql, with its
    PK-changing-update explode into delete(before.key) +
    insert(after.key)) UNCOLLAPSED as its DELTA file under
    ``data/v{batch_id}``: the key and value columns, ``__op``, ``__ord``
    and the batch id as ``__v``. A projection: one map-only job, no
    shuffle. Deletes are kept: they erase the key's state when the
    deltas are resolved (_last_events).

    The driver reads the rest from the written file with pyarrow, with no
    Spark job: emptiness and rows from the footer, the truncate from
    ``__op``. Only a batch holding a truncate is written twice: its delta
    keeps the events after its last truncate's ``__ord``.

    Returns None for an empty batch, else (the delta's manifest entries,
    whether the batch truncates)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    op = F.col(cfg.op_column)
    rel = os.path.join("data", f"v{batch_id}")

    def write(rows: DataFrame) -> list[dict]:
        rows.select(
            *cfg.key_columns, *cfg.value_columns, op.alias("__op"), "__ord",
            F.lit(batch_id).cast("long").alias("__v"),
        ).write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
            os.path.join(state_dir, rel)
        )
        return _file_entries(state_dir, rel, cfg.key_columns[0])

    entries = write(changes)
    if not entries:
        shutil.rmtree(os.path.join(state_dir, rel))
        return None
    truncated = any(
        pc.any(pc.equal(
            pq.read_table(os.path.join(state_dir, e["path"]), columns=["__op"])["__op"],
            "t",
        )).as_py()
        for e in entries
    )
    if truncated:
        epoch = changes.filter(op == "t").select(F.max("__ord")).scalar()
        entries = write(changes.filter(F.col("__ord") > epoch))
    return entries, truncated


def _fold(
    spark: SparkSession, state_dir: str, m: dict, target_rows_per_file: int
) -> dict:
    """Fold version ``m``'s live deltas into its base files: prune m's
    files by the deltas' keys (_delta_keys), resolve the touched files
    (_resolve) and write them as version m's new files under
    ``data/f{B}`` (_write_version: flat, or range-partitioned to keep
    the store clustered). Returns m with those files and no deltas."""
    keys = _delta_keys(state_dir, m["deltas"], m["key"])
    touched, untouched = _prune(m, keys)
    written = _write_version(
        _resolve(spark, state_dir, m, touched),
        state_dir, os.path.join("data", f"f{m['batch_id']}"), m["batch_id"],
        m["key"], m, touched, untouched, len(keys), target_rows_per_file,
    )
    return dict(m, **written, deltas=[], folded=True)


def _merge_changes(
    changes: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    batch_id: int,
    target_rows_per_file: int = 200_000,
    agg_col: str | None = None,
) -> None:
    """One micro-batch of changelog rows (_changelog_sql over the parsed
    envelopes) → manifest version ``batch_id`` (see
    start_replica_merge_manifest)."""
    spark = changes.sparkSession
    # Idempotent crash replay: the manifest file IS the commit point —
    # a committed batch re-delivered by foreachBatch is skipped whole.
    if os.path.exists(os.path.join(_manifest_dir(state_dir), f"v{batch_id}.json")):
        return
    delta = _write_delta(changes, cfg, state_dir, batch_id)
    if delta is None:
        return
    entries, truncated = delta
    prev = None if truncated else _latest_manifest(state_dir, before=batch_id)
    if agg_col is not None and prev is not None and "agg" not in prev:
        # starting the sum at 0 would silently leave out every row
        # the predecessor version holds
        raise ValueError(
            f"agg_col={agg_col!r}: manifest version {prev['batch_id']} "
            f"of {state_dir} records no aggregate to build on (a "
            f"bootstrapped store, or batches merged without agg_col)"
        )
    fields = [changes.schema[c] for c in (*cfg.key_columns, *cfg.value_columns)]
    # a truncate drops every file and delta reference of prev
    m = {
        "batch_id": batch_id,
        "key": cfg.key_columns[0],
        "keys": list(cfg.key_columns),
        "schema_ddl": _widest_ddl(prev, spark, fields),
        "files": prev["files"] if prev else [],
        "deltas": [*(prev.get("deltas", []) if prev else []), *entries],
        "files_total": len(prev["files"]) if prev else 0,
        "files_touched": 0,
    }
    if agg_col is not None:
        m["agg"] = _write_agg(spark, m, entries, prev, agg_col, state_dir)
    if sum(e["rows"] for e in m["deltas"]) >= target_rows_per_file:
        m = _fold(spark, state_dir, m, target_rows_per_file)
    m["total_rows"] = sum(e["rows"] for e in m["files"])
    _commit_manifest(state_dir, batch_id, m)


def _merge_manifest_batch(
    parsed: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    batch_id: int,
    target_rows_per_file: int = 200_000,
    agg_col: str | None = None,
) -> None:
    """_merge_changes over a batch of PARSED envelopes, deriving its
    changelog (the multi-table sink and ``cdc_incremental_agg``)."""
    changes = parsed.sparkSession.sql(_changelog_sql(cfg), parsed=parsed)
    _merge_changes(changes, cfg, state_dir, batch_id, target_rows_per_file, agg_col)


def bootstrap_manifest_store(
    df: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    batch_id: int = -1,
    target_rows_per_file: int = 200_000,
) -> dict:
    """Materialize ``df`` (key+value columns) as manifest-store version
    ``batch_id`` — the initial-load path (and the bench scaffold for
    store-scale legs). Same file layout, stats, and atomic manifest
    commit as the streaming merge; returns the manifest.

    ``batch_id`` defaults to the RESERVED version -1 (ADVICE r10): a
    manifest at a non-negative version doubles as that micro-batch's
    commit marker, so bootstrapping at 0 and then streaming against a
    FRESH checkpoint would make _merge_manifest_batch treat the
    stream's first micro-batch (id 0) as already committed and silently
    drop its data. Negative versions sort below every foreachBatch id
    and can never be emitted by a stream, so bootstrap-then-stream is
    safe by construction. Pass a non-negative ``batch_id`` only to
    re-materialize a version the stream has genuinely already
    consumed."""
    key0 = cfg.key_columns[0]
    rel = os.path.join("data", f"v{batch_id}")
    n_rows = df.count()
    n_files = max(1, min(256, -(-n_rows // target_rows_per_file)))
    df.select(*cfg.key_columns, *cfg.value_columns).repartitionByRange(
        n_files, F.col(key0)
    ).write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
        os.path.join(state_dir, rel)
    )
    entries = _file_entries(state_dir, rel, key0)
    manifest = {
        "batch_id": batch_id,
        "key": key0,
        "schema_ddl": ", ".join(
            f"`{c}` {df.schema[c].dataType.simpleString()}"
            for c in (*cfg.key_columns, *cfg.value_columns)
        ),
        "files": entries,
        "total_rows": sum(e["rows"] for e in entries),
        "files_total": 0,
        "files_touched": 0,
    }
    _commit_manifest(state_dir, batch_id, manifest)
    return manifest


def start_replica_merge_manifest(
    stream: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    checkpoint: str,
    row_schema=INVOICE_ROW,
    trigger_available_now: bool = True,
    target_rows_per_file: int = 200_000,
    agg_col: str | None = None,
):
    """Sink 2: the replica, maintained by an idempotent per-batch merge
    into a MANIFEST STORE — versioned, MERGE-ON-READ, with the rewrite's
    I/O bounded by FILE-LEVEL KEY STATISTICS.

    Store layout:
      state_dir/data/v{B}/part-*.parquet   — batch B's DELTA: every
        event of the batch, uncollapsed (key and value columns, ``__op``,
        the binlog-coordinate struct ``__ord`` and the batch id ``__v``),
        deletes kept.
      state_dir/data/f{B}/part-*.parquet   — the clustered files batch B
        wrote when it folded.
      state_dir/manifest/v{B}.json         — the COMMIT: the list of base
        ``files`` (from any prior batch) and live ``deltas`` composing
        version B's state, each with (rows, min/max of the first key
        column); ``folded`` marks a batch that folded.
      state_dir/agg/v{B}/                  — with ``agg_col``: the
        incremental (sum_value, n_keys) aggregate of version B, written
        before the manifest that names it (read_agg).

    The stream is parsed and derived into the changelog ONCE, at query
    start, so each foreachBatch call gets rows that are already planned.
    Per micro-batch: write them uncollapsed as the batch's delta
    (_write_delta: one map-only job), and commit a manifest that carries
    the previous version's files and deltas BY REFERENCE and appends the
    new delta. Readers resolve the deltas over the files (_resolve), and
    that is where each key's last event is picked. A truncate in the batch
    wipes prior state by dropping every file and delta reference (they
    become garbage for vacuum_manifest_store); its delta keeps only the
    events after the truncate. Re-running a committed batch after a crash
    is a no-op: its manifest, renamed into place last, is the commit; an
    uncommitted attempt's files are overwritten by the rerun.

    The FOLD rule: once the live deltas hold ``target_rows_per_file``
    rows or more, the batch that brings them there folds them into the
    base files (_fold) before it commits: it prunes the files to those
    whose [min, max] key span contains at least one delta key (exact
    bisect over the deltas' sorted keys — driver-side, O(|deltas| log)),
    resolves ONLY those files against the deltas, and writes them as its
    new files; the untouched files carry into the manifest BY REFERENCE.
    So the rewrite — the cost the batch used to pay every time — is paid
    once per target file's worth of changes, and no reader resolves more
    than about that many delta rows.

    Traffic property: deltas count EVENTS, not distinct keys, so a feed
    that repeats keys within a batch folds sooner: about 12% of a
    500-event batch over 2,000 hot keys repeats a key, almost none over
    250k keys.

    The fold's write follows the prune result. A hot-key feed (the
    realistic CDC shape) touches the few files its key range lives in,
    and the new files are range-partitioned by the key so the range stays
    clustered: O(touched + deltas) I/O. A fold that touches every file of
    a clustered store (pairwise-disjoint key ranges) can carry nothing by
    reference, so its rows are written as they stand: the full rewrite
    with no sampling job and no range shuffle. Those files overlap, so
    the next fold that touches them is range-written and re-clusters
    them; a uniform-key feed alternates the two writes. Key-RANGE stats
    prune by what the deltas actually touch; hash buckets, the
    alternative, spread a high-entropy batch across 100% of partitions
    (a hash-bucketed store measured ~50x slower than the flat rewrite on
    uniform keys and ~11 s per hot-key batch against ~1.5 s here,
    BENCH_streaming_r10_store.json, and was removed).

    Ordering contract: events for a key must not arrive in a LATER batch
    with an EARLIER binlog position — guaranteed when a key lives on one
    Kafka partition (Debezium keys by PK, so per-key order holds even on
    multi-partition topics). Within a batch, arrival order is irrelevant:
    the resolver orders a batch's events by the binlog-coordinate total order
    (_ORDER_COORDINATE), which is valid ACROSS partitions — offsets alone
    are not. PK-changing updates are handled as delete(before.key) +
    insert(after.key), identical to the batch snapshot path.

    ``agg_col`` turns on incremental aggregate maintenance (_write_agg),
    from the same delta: no second merge path. It needs every version to
    carry an aggregate, so it raises ValueError on a bootstrapped store.

    This is the parquet-protocol approximation of Delta/Iceberg MERGE
    with data-file statistics, merge-on-read as in Iceberg v2 and Hudi
    (each publishes its design; delta-spark is not a dependency of this
    engine — NOTES.md).
    """

    changes = stream.sparkSession.sql(
        _changelog_sql(cfg), parsed=parse_envelopes(stream, row_schema)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _merge_changes(
            batch_df, cfg, state_dir, batch_id, target_rows_per_file, agg_col
        )

    writer = (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _merge_scd2_batch(
    parsed: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    batch_id: int,
    target_rows_per_file: int = 200_000,
) -> None:
    """One micro-batch of parsed envelopes → SCD2 history version
    ``batch_id`` of a manifest store (see start_scd2_merge).

    The batch's changelog (changelog_sql, each event with its
    _ORDER_COORDINATE as ``__ord``) is materialized once
    (_materialized). Its versions come from scd2_history, the batch
    operator itself. Across batches, the only stored rows that change
    are the OPEN versions of keys the batch touches: their valid_to
    becomes the key's FIRST in-batch ``__ord`` (any op closes — an update
    supersedes, a delete terminates). The previous manifest is pruned by
    the batch's first-key values, so only the files holding a touched key
    are read; there the open versions are closed against the broadcast
    closers, and those rows plus the batch's versions are written as the
    batch's new files (_write_version). Every other file, closed versions
    included, carries by reference: per-batch I/O is the touched files
    plus the batch, not the history. A truncate in the batch wipes prior
    history by dropping every reference (only the live epoch is
    versioned — identical to the batch operator and R10).

    Replaying batches 1..N through this merge yields byte-identical
    history to running scd2_history over the concatenated changelog
    (pinned in test_streaming_scd2.py)."""
    spark = parsed.sparkSession
    if os.path.exists(os.path.join(_manifest_dir(state_dir), f"v{batch_id}.json")):
        return  # committed: see _merge_manifest_batch
    key0, op = cfg.key_columns[0], cfg.op_column
    with _materialized(parsed, _changelog_sql(cfg), key0, F.col(op) == "t") as batch:
        if batch is None:
            return
        changelog = batch.rows
        versions = scd2_history(
            changelog,
            key_cols=cfg.key_columns,
            value_cols=cfg.value_columns,
            order_col="__ord",
            op_col=op,
        )
        prev = None if batch.truncated else _latest_manifest(state_dir, before=batch_id)
        touched, untouched = _prune(prev, batch.keys)
        cur = _read(spark, state_dir, prev["schema_ddl"], touched) if touched else None
        new_rows = versions
        if cur is not None:
            closer = changelog.groupBy(*cfg.key_columns).agg(
                F.min("__ord").alias("__first")
            )
            closing = F.col("is_current") & F.col("__first").isNotNull()
            carried = (
                cur.join(F.broadcast(closer), list(cfg.key_columns), "left")
                .withColumn(
                    "valid_to",
                    F.when(closing, F.col("__first")).otherwise(F.col("valid_to")),
                )
                .withColumn("is_current", F.col("is_current") & F.col("__first").isNull())
                .drop("__first")
            )
            # allowMissingColumns: schema evolution. When the table config
            # grows a value column (Debezium schema-change events), rows
            # written before it carry NULL for the new column.
            new_rows = carried.unionByName(versions, allowMissingColumns=True)
        manifest = _write_version(
            new_rows, state_dir, os.path.join("data", f"v{batch_id}"), batch_id,
            key0, prev, touched, untouched, batch.n, target_rows_per_file,
        )
        _commit_manifest(state_dir, batch_id, manifest)


def start_scd2_merge(
    stream: DataFrame,
    cfg: ChangeTableConfig,
    state_dir: str,
    checkpoint: str,
    row_schema=INVOICE_ROW,
    trigger_available_now: bool = True,
):
    """SCD Type-2 history sink: the warehouse history table, maintained
    incrementally from the CDC stream (the streaming counterpart of the
    cdc_scd2 registry query). One row per version: the key and value
    columns, valid_from / valid_to (order coordinates; valid_to NULL
    while open) and is_current.

    The history is a manifest store, the replica's layout
    (start_replica_merge_manifest) with one row per version instead of
    one per key: a batch rewrites only the files holding a key it
    touches (_merge_scd2_batch), and read_replica_manifest (with time
    travel), vacuum_manifest_store and compact_manifest_store serve it
    unchanged. Same ordering contract and crash-replay idempotence as the
    replica; current versions of the history always equal the replica's
    state (pinned in tests)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _merge_scd2_batch(batch_df, cfg, state_dir, batch_id)

    writer = (
        parse_envelopes(stream, row_schema).writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _entry_lists(m: dict) -> dict[str, list]:
    """Every file-entry list manifest ``m`` holds, by name: the base
    ``files`` of every store, a replica's live ``deltas`` and the
    corpus' ``sigs``. Vacuum and compaction walk these rather than
    naming them, so one of each serves every store."""
    return {
        k: v for k, v in m.items()
        if isinstance(v, list) and all(isinstance(e, dict) for e in v)
    }


def vacuum_manifest_store(state_dir: str, keep: int = 3) -> list[str]:
    """Delete data files and aggregate versions referenced by NO retained
    manifest (the newest ``keep`` versions are retained, older manifests
    deleted). A retained manifest references the files of every entry
    list it holds (_entry_lists): base files, live deltas and the
    corpus' signatures alike. Returns the deleted data file paths. Safe
    order: manifests first, then files — a crash mid-vacuum leaves
    referenced files intact.

    Concurrent-merge safety (ADVICE r10): an in-flight merge writes its
    ``data/v{B}`` delta, ``data/f{B}`` fold files, ``sigs/v{B}`` and
    ``agg/v{B}`` BEFORE the manifest rename that commits them, so a
    naive "not referenced by any retained manifest" sweep could delete a
    batch's output in the commit window.
    Directories with a version NEWER than the latest committed manifest
    are therefore skipped (the Delta-style retention check); within
    committed versions, a file is garbage only once no retained manifest
    references it. Do not run vacuum concurrently with a merge of a
    version <= the latest committed one (replays of committed versions
    are no-ops, so that window is only reachable by external
    manipulation of the manifest dir)."""
    import re
    import shutil

    versions = _manifest_versions(state_dir)
    if len(versions) <= keep:
        keep_versions = versions
    else:
        keep_versions = versions[-keep:]
    latest_committed = versions[-1] if versions else None
    live: set[str] = set()
    live_agg: set[str] = set()
    for v in keep_versions:
        m = _read_manifest(state_dir, v)
        live.update(e["path"] for es in _entry_lists(m).values() for e in es)
        if "agg" in m:
            live_agg.add(m["agg"])
    deleted = []
    for v in versions:
        if v not in keep_versions:
            os.remove(os.path.join(_manifest_dir(state_dir), f"v{v}.json"))

    def committed_dirs(root: str):
        if not os.path.isdir(os.path.join(state_dir, root)):
            return
        for d in os.listdir(os.path.join(state_dir, root)):
            m = re.fullmatch(r"[vf](-?\d+)", d)
            if m and (latest_committed is None or int(m.group(1)) > latest_committed):
                # in-flight (uncommitted) batch output — not garbage yet
                continue
            yield os.path.join(root, d)

    # the roots listed files are written under: every store's data, and
    # the corpus' signatures
    for rel_dir in (*committed_dirs("data"), *committed_dirs("sigs")):
        sub = os.path.join(state_dir, rel_dir)
        for fn in os.listdir(sub):
            rel = os.path.join(rel_dir, fn)
            if fn.endswith(".parquet") and rel not in live:
                os.remove(os.path.join(state_dir, rel))
                deleted.append(rel)
        if not any(f.endswith(".parquet") for f in os.listdir(sub)):
            shutil.rmtree(sub)
    for rel_dir in committed_dirs("agg"):
        if rel_dir not in live_agg:
            shutil.rmtree(os.path.join(state_dir, rel_dir))
    return deleted


def compact_manifest_store(
    spark: SparkSession,
    state_dir: str,
    target_rows_per_file: int = 200_000,
    min_files: int = 8,
) -> dict | None:
    """Re-cluster the store's base files: merge its SMALL files (rows <
    3/4 of target) and every file whose key range OVERLAPS another live
    file's into target-sized range-partitioned files, committing by
    atomically REPLACING the latest manifest. Every rewrite (a replica's
    fold, a history batch) adds files — hot feeds rewrite few, so version
    chains grow without bound. Overlap comes from a rewrite written flat
    (its files span the rewrite's keys) and from a range write whose new
    file spans an untouched one (keys inside and outside a touched
    file's range); either way a later rewrite in that range touches an
    extra file, so any overlap is re-clustered, and only the overlapping
    and small files are reread.
    Vacuum reclaims superseded versions; this bounds the LIVE file count
    and restores pruning.

    Mechanics: each entry list of the latest manifest whose schema it
    records — the base ``files`` (``schema_ddl``) and the corpus'
    ``sigs`` (``sigs_ddl``) — is compacted on its own: its eligible
    files are read under that schema, repartitionByRange(key) into
    ceil(rows/target) files under ``{root}/c{V}_{k}`` (root = the
    list's directory, ``data`` or ``sigs``; k = per-version compaction
    counter, so repeated compactions never collide), and the manifest at
    version V is atomically rewritten ONCE to reference (the other files
    by reference) + (new compacted files) of every list — a corpus'
    docs and signatures are replaced together. The version
    NUMBER is untouched — manifest versions stay exactly micro-batch
    commit markers (bootstrap -1, stream ids 0..), so _merge_manifest_
    batch's replay guard and the next batch's id are unaffected; the
    superseded files become garbage for vacuum_manifest_store.
    Rows are rewritten, never changed or deduplicated, so the store's
    content — a replica's rows or a history's versions — is identical —
    pinned by the replay-equality tests on compacted stores. A replica's
    live deltas record no schema of their own and are carried BY
    REFERENCE, unread: they resolve by key, whatever files the base rows
    sit in, and the next fold folds them.

    A list is compacted when its files overlap or it holds at least
    ``min_files`` small files; no-op (returns None) when no list is.
    Like vacuum, must not run concurrently with a merge or another
    compaction (single-writer, the manifest-store contract).

    100 TB shape: a real deployment runs this as the Delta/Iceberg
    OPTIMIZE equivalent — off the hot path, bounded by the small-file
    and overlapping mass (the large clustered base files are carried by
    reference and never reread)."""
    versions = _manifest_versions(state_dir)
    if not versions:
        return None
    v = versions[-1]
    m = _read_manifest(state_dir, v)
    key0 = m["key"]
    # 3/4 of target: merge rewrites naturally fragment into files a
    # shade under target (ceil split), and a half-target threshold
    # misses them; 3/4 catches real fragments while freshly compacted
    # ~target-sized files stay ineligible (no rewrite churn)
    thr = 3 * target_rows_per_file // 4
    new_m, n_picked = dict(m), 0
    for name, entries in _entry_lists(m).items():
        ddl = m["schema_ddl"] if name == "files" else m.get(f"{name}_ddl")
        overlapping = _overlapping(entries)
        picked, kept = [], []
        for e in entries:
            (picked if e["rows"] < thr or id(e) in overlapping else kept).append(e)
        n_small = sum(e["rows"] < thr for e in entries)
        if ddl is None or not picked or (not overlapping and n_small < min_files):
            continue
        root = picked[0]["path"].split(os.sep, 1)[0]
        n_comp = sum(
            d.startswith(f"c{v}_") for d in os.listdir(os.path.join(state_dir, root))
        )
        rel = os.path.join(root, f"c{v}_{n_comp}")
        picked_rows = sum(e["rows"] for e in picked)
        n_new = max(1, min(256, -(-picked_rows // target_rows_per_file)))
        (
            spark.read.schema(ddl)
            .parquet(*[os.path.join(state_dir, e["path"]) for e in picked])
            .repartitionByRange(n_new, F.col(key0))
            .write.mode("overwrite")
            .option(*_NO_SUCCESS_MARKER)
            .parquet(os.path.join(state_dir, rel))
        )
        new_m[name] = kept + _file_entries(state_dir, rel, key0)
        n_picked += len(picked)
    if not n_picked:
        return None
    new_m.update(
        total_rows=sum(e["rows"] for e in new_m["files"]), compacted_from=n_picked
    )
    _commit_manifest(state_dir, v, new_m)
    return new_m


def start_multi_table_merge(
    stream: DataFrame,
    tables: dict[str, tuple[ChangeTableConfig, "object"]],
    state_root: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    target_rows_per_file: int = 200_000,
):
    """Route a mixed multi-table changelog stream into per-table replicas.

    Debezium emits one topic per table; subscribing with a pattern
    (``subscribePattern: source.dev.*``) lands every table's envelopes in
    ONE stream, discriminated by ``payload.source.table``
    (reference naming convention README.md:295-297). Per micro-batch each
    configured table's slice is parsed with ITS OWN row schema and merged
    into its own manifest store under state_root/<table> — one streaming
    query, N replicas, one checkpoint. Each table's slice touches only
    the files its keys live in; bootstrap, compaction and vacuum apply
    per table, and read_replica_manifest reads each replica.

    ``tables``: table name → (ChangeTableConfig, row StructType).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        for name, (cfg, row_schema) in tables.items():
            parsed = parse_envelopes(batch_df, row_schema).filter(
                # truncate envelopes may omit the row images but always
                # carry source.table; route on it.
                F.col("source_table") == name
            )
            _merge_manifest_batch(
                parsed,
                cfg,
                os.path.join(state_root, name),
                batch_id,
                target_rows_per_file,
            )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_imi_index_maintenance(
    stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_available_now: bool = True,
):
    """Maintain a persisted IMI ANN index from a vector stream (r11 —
    the E4×E9 crossover): the first non-empty micro-batch BUILDS the
    index (trains codebooks, lays the corpus out cell-partitioned);
    every later batch is append_imi_index(batch_id=...) — assignment
    under the frozen grid, rows appended to the cell directories under
    the exactly-once two-phase protocol (stage → prefix-named move →
    meta commit; replays of committed batches short-circuit, crashed
    attempts self-clean by prefix). Serving (knn_imi_indexed) needs no
    coordination — it reads whatever cell directories exist.

    This is the streaming half of the 100 TB ANN story: the O(corpus)
    work (codebook training, full assignment) happens once; each batch
    pays O(batch) assignment + a per-cell append. Codebook drift is
    metered (meta.appended_rows vs trained_rows) and warned on once
    appends exceed the training base — at which point a scheduled
    rebuild (build_imi_index over the accumulated corpus) re-trains the
    grid, exactly like the manifest store's compaction runs off the hot
    path. Single-writer, like every store in this module."""
    from ..operators.similarity import append_imi_index, build_imi_index

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        vecs = batch_df.select(F.col(id_col), F.col(vec_col))
        meta_path = os.path.join(index_dir, "meta.json")
        if not os.path.exists(meta_path):
            # first batch: build IS the commit (meta is written once,
            # atomically, with the batch marker; a crash before it
            # leaves no meta → the replay rebuilds over the overwrite)
            build_imi_index(
                vecs,
                index_dir,
                vec_col=vec_col,
                id_col=id_col,
                _extra_meta={"committed_batches": [batch_id]},
            )
        else:
            append_imi_index(
                vecs, index_dir, vec_col=vec_col, id_col=id_col,
                batch_id=batch_id,
            )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_enriched_log(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    out_dir: str,
    checkpoint: str,
    row_schema=INVOICE_ROW,
    trigger_available_now: bool = True,
):
    """Stream-static enrichment sink: each change event left-joined to a
    static dimension table on its (after-image, falling back to
    before-image for deletes) key, then appended as parquet — the
    standard 'decorate the CDC feed with reference data' pattern.

    Scale notes: the static side is explicitly broadcast — Structured
    Streaming re-plans the join every micro-batch, so a shuffle join here
    would re-shuffle the dimension per batch; a broadcast pins it to one
    exchange per batch and keeps the stream side map-only. The static
    frame is re-resolved each batch, so updating the dimension's backing
    files between batches is picked up without restarting the query (the
    supported Spark contract for stream-static joins). For dimensions too
    big to broadcast, pre-bucket both sides on the key instead.
    """
    parsed = parse_envelopes(stream, row_schema)
    ev = parsed.select(
        "offset",
        "timestamp",
        classify_op(F.col("before"), F.col("after")).alias("op_class"),
        F.coalesce(F.col(f"after.{key_col}"), F.col(f"before.{key_col}")).alias(key_col),
    )
    enriched = ev.join(F.broadcast(dim), key_col, "left")
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    out_dir: str,
    checkpoint: str,
    key_col: str = "user_id",
    left_ts: str = "event_time",
    right_ts: str = "event_time",
    watermark: str = "1 hour",
    max_lag_seconds: int = 1800,
    trigger_available_now: bool = True,
):
    """Stream-stream interval join (the attribution shape: a right-side
    event joins a left-side event with the same key that happened at most
    ``max_lag_seconds`` earlier). The reference cannot express this at
    all — it applies one stream to a table; joining two live CDC/event
    feeds is the canonical Structured Streaming upgrade.

    Scale/state contract: BOTH sides are watermarked and the join
    condition carries an explicit event-time range, so Spark can expire
    buffered rows once they fall behind watermark + lag — state is
    O(events per horizon per key-partition), not O(stream). Without the
    time bound the state grows forever and Spark (correctly) refuses
    append mode. Right columns are prefixed ``r_`` so both sides keep
    their payloads without ambiguity; the join itself is one key shuffle
    per micro-batch, identical in shape to the batch equi-join."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    r = r.select([F.col(c).alias(f"r_{c}") for c in r.columns])
    cond = (
        (F.col(key_col) == F.col(f"r_{key_col}"))
        & (F.col(f"r_{right_ts}") >= F.col(left_ts))
        & (
            F.col(f"r_{right_ts}")
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_lag_seconds} SECONDS")
        )
    )
    joined = l.join(r, cond, "inner").drop(f"r_{key_col}")
    writer = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming corpus admission: per-batch near-dup gate against the
# accumulated corpus — the LLM-training-data ingestion shape (nightly/
# continuous crawl drops) running on the same foreachBatch machinery as
# the CDC merges.
# ---------------------------------------------------------------------------


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """The admitted docs of the latest committed manifest (empty when
    every batch so far admitted none), or None before the first commit.
    A batch's files become visible only with the manifest that lists
    them."""
    m = _latest_manifest(corpus_dir)
    if m is None:
        return None
    docs = _read(spark, corpus_dir, m["schema_ddl"], m["files"])
    return docs if docs is not None else spark.createDataFrame([], m["schema_ddl"])


def _read_sigs(spark: SparkSession, corpus_dir: str) -> DataFrame | None:
    """The signature store: the (doc_id, band, bv) rows of the latest
    committed manifest's ``sigs`` files, or None when it lists none."""
    m = _latest_manifest(corpus_dir)
    return _read(spark, corpus_dir, m["sigs_ddl"], m["sigs"]) if m else None


def probe_corpus_sigs(
    spark: SparkSession,
    corpus_dir: str,
    docs: DataFrame,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    family: str = "md5",
    shingled: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame | None:
    """Candidate (doc_id_new, dup_of) pairs: the incoming batch is
    shingled + signed fresh (O(batch) map work) and joined on (band, bv)
    against the accumulated signature store — every sig file the latest
    manifest lists, compacted or not. The batch's band frame is the
    SMALL side, so AQE broadcasts it onto the store scan: the store side
    (the 100 TB-scaled side) never shuffles — pinned in test_sinks.py
    against a compacted+vacuumed store. Returns None when no signature
    is stored yet (first batch)."""
    from ..operators.dedup import minhash_banded, shingle_docs

    sigs = _read_sigs(spark, corpus_dir)
    if sigs is None:
        return None
    if banded is not None:
        banded_in = banded.withColumnRenamed("doc_id", "doc_id_new")
    else:
        banded_in = minhash_banded(
            shingled if shingled is not None else shingle_docs(docs, n),
            k,
            bands,
            family=family,
        ).withColumnRenamed("doc_id", "doc_id_new")
    return (
        banded_in.join(sigs.withColumnRenamed("doc_id", "dup_of"), ["band", "bv"])
        .select("doc_id_new", "dup_of")
        .distinct()
    )


def start_corpus_dedup_admission(
    stream: DataFrame,
    corpus_dir: str,
    checkpoint: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
    trigger_available_now: bool = True,
    family: str = "md5",
    quality_filter=None,
    fuse_probe: bool = False,
    allow_checkpoint_rebind: bool = False,
):
    """Streaming corpus admission with incremental near-dup gating.

    Per micro-batch of (doc_id, text):
      1. WITHIN-batch near-dups collapse first (MinHash-LSH + exact
         Jaccard; ONE survivor — the min doc_id — per CONNECTED
         COMPONENT of the verified-pair graph, via dup_clusters). This
         is deliberate cluster-representative semantics, the standard
         transitive policy for training-corpus dedup: on a chain a~b,
         b~c with a !~ c, the whole chain collapses to a (c is dropped
         even though its direct dup b was also dropped — transitivity
         treats the chain as one template family). The earlier
         pairwise-loser rule (drop greatest of each pair) reached the
         same result on chains but kept docs whose only smaller verified
         partner was itself dropped in e.g. (1,3),(2,3) — an accidental,
         undocumented middle ground between pairwise and cluster
         semantics; it is replaced, not documented, because
         one-survivor-per-cluster is the semantics the batch operators
         (dedup_clusters) already expose;
      2. survivors probe the accumulated signature store (banded MinHash
         over all previously ADMITTED docs) and verify exact Jaccard
         against only the candidate-matched corpus docs — per-batch cost
         O(batch + collisions), never O(corpus) (same asymmetry as
         operators.dedup.incremental_dedup_pairs);
      3. admitted docs land in corpus_dir/data/v{batchId}, their
         signatures in corpus_dir/sigs/v{batchId}, and ONE manifest
         rename commits both (_commit_manifest): manifest v{batchId}
         carries the previous manifest's docs (``files``) and sigs
         (``sigs``) entries by reference and appends the batch's own.
         Crash replay of a committed batch short-circuits on its
         manifest — the protocol of the replica and the SCD2 history.

    The corpus is a manifest store: read_corpus and the probe read the
    latest manifest's lists, and vacuum_manifest_store and
    compact_manifest_store serve it as they serve the replica (a
    compaction rewrites the docs and the sigs in one manifest
    replacement). The per-batch file layout trades the bucketed store's
    shuffle-free probe (persist_signature_store — the batch-mode path)
    for per-batch atomicity + replay idempotence, which streaming needs;
    AQE still broadcasts the small incoming band frame in the probe.

    ``family`` picks the MinHash hash family ("md5" default, "xxhash64"
    production — see minhash_banded) and MUST stay uniform for the
    lifetime of a corpus_dir: the probe signatures have to match the
    stored ones, so switching families on an existing store silently
    disables cross-batch dedup.

    ``quality_filter`` (optional, DataFrame -> DataFrame over
    (doc_id, text)) runs BEFORE any dedup work — rejected docs never pay
    for shingling, never enter the signature store, and never suppress a
    later GOOD near-duplicate (a rejected doc must not become a cluster
    representative). operators/text.filter_quality is the stock
    Gopher/C4 gate; any batch-safe transform fits.

    ``fuse_probe`` folds the within-batch collapse INTO the store probe:
    one banded candidate join of the batch against (batch ∪ store) and
    one Jaccard verify chain over the union, instead of a self-join +
    verify followed by a separate probe-join + verify. The batch band
    frame broadcasts once, the verify chain's four joins become two, and
    the split back into in-batch pairs (→ cluster losers) vs cross pairs
    (→ store dups) rides a source tag carried through the verify.
    Admitted set is IDENTICAL to the sequential path (pinned in tests):
    cross-verifying a doc that the in-batch collapse will drop is wasted
    verify rows, never a change to the final anti-join algebra. See
    BENCH_streaming_r07 for the measured A/B.

    ``allow_checkpoint_rebind``: a checkpoint is BOUND to its corpus_dir
    on first use and a fresh checkpoint may only start an empty corpus
    (_bind_checkpoint_to_corpus — refuses the silent-data-loss modes the
    r8 500k-store bench measured: a fresh checkpoint's batch ids restart
    at 0, so its batches are either skipped whole as phantom replays or
    committed below the latest manifest, where no reader looks). Pass
    True ONLY for lost-checkpoint recovery where the source re-delivers
    previously-processed data — there the manifest short-circuit is the
    idempotence you want."""
    from ..operators.dedup import (
        dup_cluster_losers_capped,
        jaccard_verify_pairs,
        minhash_banded,
        minhash_dedup_pairs,
        shingle_docs,
    )

    def handle(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        # the manifest is the commit: see _merge_changes
        if os.path.exists(os.path.join(_manifest_dir(corpus_dir), f"v{batch_id}.json")):
            return
        docs = batch_df.select("doc_id", "text")
        if quality_filter is not None:
            # quality gate first: a rejected doc must neither enter the
            # store nor act as a dedup cluster representative
            docs = quality_filter(docs)
        docs = docs.localCheckpoint(eager=False)
        # shingle ONCE, band ONCE per batch: collapse, probe, verify, and
        # the final signature write all reuse these two checkpointed
        # frames (the r4 form re-shingled the batch four times and
        # re-signed it three times — measured as the dominant share of
        # the ~5-6s/batch fixed floor, NOTES r5). The checkpoints are
        # LAZY since r6: the losers collect below is the batch's first
        # action and materializes the whole docs→shingles→banded chain
        # in ONE job — eager staging spent three synchronous jobs on the
        # same work (7 → 4 jobs/batch measured; the fixed per-job
        # scheduling floor was the residual cost the r6 store-cache A/B
        # attributed the steady state to)
        sh = shingle_docs(docs, n).localCheckpoint(eager=False)
        banded = minhash_banded(sh, k, bands, family=family).localCheckpoint(
            eager=False
        )
        sigs = _read_sigs(spark, corpus_dir) if fuse_probe else None
        if sigs is not None:
            # FUSED collapse+probe (see docstring): one banded candidate
            # join of the batch against (batch ∪ store), one verify
            # chain, then split by the carried source tag — in-batch
            # pairs feed the cluster collapse, cross pairs the store
            # anti-join. Disjoint id spaces (store ids are prior
            # batches') make the union unambiguous without the tag; the
            # tag exists so the split is an O(1) filter, not a join.
            rhs = banded.select(
                F.col("doc_id").alias("dup_of"), "band", "bv",
                F.lit("batch").alias("src"),
            ).unionByName(
                sigs.select(
                    F.col("doc_id").alias("dup_of"), "band", "bv",
                    F.lit("store").alias("src"),
                )
            )
            cand_all = (
                banded.select(F.col("doc_id").alias("doc_id_new"), "band", "bv")
                .join(rhs, ["band", "bv"])
                .filter(
                    (F.col("src") == "store")
                    | (F.col("doc_id_new") < F.col("dup_of"))
                )
                .select("doc_id_new", "dup_of", "src")
                .distinct()
            )
            matched_ids = (
                cand_all.filter(F.col("src") == "store")
                .select(F.col("dup_of").alias("doc_id"))
                .distinct()
            )
            corpus = read_corpus(spark, corpus_dir)
            sh_matched = shingle_docs(
                corpus.join(matched_ids, "doc_id", "left_semi"), n
            )
            verified = jaccard_verify_pairs(
                sh, sh.unionByName(sh_matched), cand_all, threshold,
                carry=("src",),
            ).localCheckpoint(eager=False)
            in_pairs = verified.filter(F.col("src") == "batch").select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("dup_of").alias("doc_id_b"),
            )
            losers = dup_cluster_losers_capped(in_pairs)
            dupped = (
                verified.filter(F.col("src") == "store")
                .select("doc_id")
                .distinct()
            )
            docs = docs.join(losers, "doc_id", "left_anti").join(
                dupped, "doc_id", "left_anti"
            )
        else:
            # 1. within-batch collapse: one survivor (min id) PER
            # CONNECTED COMPONENT of the verified-pair graph —
            # cluster-representative semantics (see docstring). In-batch
            # components are candidate-bounded and tiny, so the losers
            # come from ONE collect + driver union-find (capped, falls
            # back to the distributed dup_clusters loop) instead of
            # paying label propagation's per-batch job count.
            pairs = minhash_dedup_pairs(
                docs, n=n, k=k, bands=bands, threshold=threshold, family=family,
                shingled=sh, banded=banded,
            )
            losers = dup_cluster_losers_capped(pairs)
            docs = docs.join(losers, "doc_id", "left_anti")
            sh_live = sh.join(losers, "doc_id", "left_anti")
            banded_live = banded.join(losers, "doc_id", "left_anti")
            # 2. cross-batch probe against the accumulated store; probe,
            # verify, and the admission anti-join stay one fused lazy plan
            # materialized by the docs write below. Shingling runs only
            # over candidate-MATCHED corpus rows (caching full-corpus
            # shingle sets measured strictly worse, NOTES r6).
            cand0 = probe_corpus_sigs(
                spark, corpus_dir, docs, n, k, bands, family, banded=banded_live,
            )
            if cand0 is not None:
                cand = cand0.localCheckpoint(eager=False)
                matched_ids = cand.select(F.col("dup_of").alias("doc_id")).distinct()
                corpus = read_corpus(spark, corpus_dir)
                sh_matched = shingle_docs(
                    corpus.join(matched_ids, "doc_id", "left_semi"), n
                )
                dupped = jaccard_verify_pairs(
                    sh_live, sh_matched, cand, threshold
                ).select(F.col("doc_id")).distinct()
                docs = docs.join(dupped, "doc_id", "left_anti")
        # 3. docs, then sigs, then the manifest that commits both. The
        # docs write itself materializes the admission chain (probe →
        # verify → anti-join, all over the already-checkpointed staging
        # frames); the sigs semi-join then reads the admitted ids BACK
        # from the just-written parquet — replacing the former
        # checkpoint-then-write pair (2 jobs) with write-then-scan (the
        # read-back is a tiny fresh local file). Result frames are
        # byte-identical: the semi-join key set is the same admitted set
        # either way (pinned in test_streaming.py).
        docs_rel = os.path.join("data", f"v{batch_id}")
        sigs_rel = os.path.join("sigs", f"v{batch_id}")
        docs.write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
            os.path.join(corpus_dir, docs_rel)
        )
        admitted_ids = spark.read.parquet(os.path.join(corpus_dir, docs_rel)).select(
            "doc_id"
        )
        sig_rows = banded.join(admitted_ids, "doc_id", "left_semi")
        sig_rows.write.mode("overwrite").option(*_NO_SUCCESS_MARKER).parquet(
            os.path.join(corpus_dir, sigs_rel)
        )
        prev = _latest_manifest(corpus_dir, before=batch_id)
        files = [
            *(prev["files"] if prev else []),
            *_file_entries(corpus_dir, docs_rel, "doc_id"),
        ]
        _commit_manifest(corpus_dir, batch_id, {
            "batch_id": batch_id,
            "key": "doc_id",
            "schema_ddl": _widest_ddl(prev, spark, docs.schema.fields),
            "sigs_ddl": _widest_ddl(None, spark, sig_rows.schema.fields),
            "files": files,
            "sigs": [
                *(prev["sigs"] if prev else []),
                *_file_entries(corpus_dir, sigs_rel, "doc_id"),
            ],
            "total_rows": sum(e["rows"] for e in files),
        })

    _bind_checkpoint_to_corpus(checkpoint, corpus_dir, allow_checkpoint_rebind)
    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bind_checkpoint_to_corpus(
    checkpoint: str, corpus_dir: str, allow_rebind: bool = False
) -> None:
    """Refuse the two SILENT-DATA-LOSS modes of a checkpoint/corpus
    mismatch (found by the r8 500k-store admission bench, which preloaded
    through one checkpoint and fed through another):

      * a FRESH checkpoint restarts micro-batch ids at 0, so against a
        corpus with committed versions its batch N collides with the
        existing v{N}: if manifest v{N} survives, handle() treats the
        incoming batch as a crash REPLAY and silently drops it whole; if
        vacuum already removed it, the batch COMMITS manifest v{N} below
        the latest one — invisible to read_corpus, whose files the next
        vacuum deletes (measured with the earlier compaction-base layout:
        9,999 admitted docs silently absent from the logical corpus);
      * a checkpoint bound to corpus A pointed at corpus B replays A's
        batch-id sequence against B's version history — same two
        failure shapes.

    The binding is a marker file inside the CHECKPOINT directory (the
    thing whose identity the batch ids belong to), written on first use:
    a checkpoint may only ever drive the corpus_dir it was born with,
    and a brand-new checkpoint may only start an EMPTY corpus. Restarts
    of the same (checkpoint, corpus) pair — the availableNow chunk
    harness, crash replay — see their own binding and pass. Exactly the
    guard-rail Delta's txn-appId/version pair provides for idempotent
    writers; parquet-protocol equivalent here.

    ``allow_rebind=True`` is the EXPLICIT recovery escape hatch for a
    lost/discarded checkpoint: it (re)writes the binding and accepts the
    manifest-skip semantics, which are only safe when the new stream's
    source re-delivers PREVIOUSLY-PROCESSED data (full source replay —
    committed versions short-circuit, nothing duplicates; versions
    committed below the latest manifest hold already-admitted content
    and stay invisible by design). With genuinely NEW data in the
    re-delivered stream the id collision semantics apply — that is
    exactly the silent drop this guard exists to refuse, so rebind is an
    operator assertion, never a default."""
    import json as _json

    binding = os.path.join(checkpoint, "corpus_binding.json")
    # realpath, not abspath: the same corpus reached via a symlink or a
    # different cwd-relative spelling is the SAME identity — refusing it
    # would be fail-safe but needless operational friction (ADVICE r8).
    target = os.path.realpath(corpus_dir)

    def _write() -> None:
        os.makedirs(checkpoint, exist_ok=True)
        tmp = binding + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"corpus_dir": target}, f)
        os.replace(tmp, binding)

    if os.path.exists(binding):
        with open(binding) as f:
            bound = _json.load(f)["corpus_dir"]
        # Resolve the STORED spelling too: pre-r9 checkpoints wrote
        # abspath bindings, so one whose path contains a symlink
        # component would fail the identity check against today's
        # realpath spelling of the SAME directory (ADVICE r9 #4) —
        # realpath(stored) == realpath(asked) is the actual identity.
        if os.path.realpath(bound) != target:
            if allow_rebind:
                _write()
                return
            raise ValueError(
                f"checkpoint {checkpoint!r} is bound to corpus {bound!r} "
                f"but was asked to drive {target!r}: batch ids from one "
                "corpus' history replayed against another lose data "
                "silently (batches skipped as phantom replays or committed "
                "below the latest manifest). Use the corpus' own "
                "checkpoint, a new checkpoint with a new corpus_dir, or "
                "pass allow_checkpoint_rebind=True if this stream "
                "re-delivers previously-processed source data."
            )
        return
    if _manifest_versions(corpus_dir) and not allow_rebind:
        raise ValueError(
            f"corpus {target!r} already has committed versions but "
            f"checkpoint {checkpoint!r} is new: its micro-batch ids "
            "restart at 0 and collide with the existing version history "
            "(batches silently skipped as replays, or committed below the "
            "latest manifest and vacuumed). Resume with the checkpoint "
            "that built this corpus, start a fresh corpus_dir, or pass "
            "allow_checkpoint_rebind=True if this stream re-delivers "
            "previously-processed source data (lost-checkpoint recovery)."
        )
    _write()


def start_funnel_state(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    stages: "tuple[str, ...]" = ("signup", "view", "click", "purchase"),
    trigger_available_now: bool = True,
):
    """Incremental funnel maintenance (the streaming form of the
    funnel_conversion registry entry): each user's 4-slot stage machine
    lives in the streaming state store and is advanced by every micro-
    batch; each batch emits the post-batch slot vector for touched users
    (an update-mode changelog — latest emission per user IS the funnel
    state, so stage counts are one aggregate over it).

    Slots are SET-ONCE (a stage records the first qualifying event after
    the previous stage), so per-user state is 4 longs forever — no
    history accumulates, unlike sessionization state. Within a batch
    events are applied in (ts_ms, event_id) order; across batches the
    fold equals the batch operator when events arrive in event-time order
    (the CDC stand-in's contract — same assumption as the replica).
    An event-time-late stage event can under-fill a slot the batch
    operator would have filled; pinned equal under ordered replay in
    tests, and the honest fix for unordered feeds is a watermark-delayed
    re-sort upstream, not more state here.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(stages)

    def update(key, pdfs, state: GroupState):
        slots = list(state.get) if state.exists else [None] * n
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_ms", "event_id"])
            for ts, ty in zip(pdf["ts_ms"], pdf["event_type"]):
                for k, s in enumerate(stages):
                    if ty != s or slots[k] is not None:
                        continue
                    if k == 0 or (slots[k - 1] is not None and ts > slots[k - 1]):
                        slots[k] = int(ts)
                    break
        state.update(tuple(slots))
        row = {"user_id": int(key[0])}
        row.update({f"s{i + 1}": slots[i] for i in range(n)})
        yield pd.DataFrame([row])

    slot_cols = ", ".join(f"s{i + 1} long" for i in range(n))
    out = (
        stream.select("user_id", "ts_ms", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=f"user_id long, {slot_cols}",
            stateStructType=slot_cols,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    writer = (
        out.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_funnel_state(spark: SparkSession, out_dir: str, n_stages: int = 4) -> DataFrame:
    """Current funnel stage counts from the emitted changelog: latest
    emission per user (max batch_id wins), then one count per slot."""
    df = spark.read.parquet(out_dir)
    slot_cols = [f"s{i + 1}" for i in range(n_stages)]
    latest = (
        df.groupBy("user_id")
        .agg(
            F.max_by(F.struct(*slot_cols), F.col("batch_id")).alias("f")
        )
        .select("user_id", *[F.col(f"f.{c}").alias(c) for c in slot_cols])
    )
    return latest.agg(
        *[F.count(c).alias(f"n_{i + 1}") for i, c in enumerate(slot_cols)]
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained corpus statistics (the corpus_stats registry
# entry as a streaming materialized view).
# ---------------------------------------------------------------------------


def _stats_versions(stats_dir: str) -> "list[int]":
    import glob

    out = []
    for d in glob.glob(os.path.join(stats_dir, "v*")):
        name = os.path.basename(d)
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            out.append(int(name[1:]))
    return sorted(out)


def read_corpus_stats(
    spark: SparkSession, stats_dir: str, before: "int | None" = None
) -> "DataFrame | None":
    """Latest committed (lang, source)-grain stats, or None."""
    versions = _stats_versions(stats_dir)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    return spark.read.parquet(os.path.join(stats_dir, f"v{versions[-1]}"))


def rollup_corpus_stats(stats: DataFrame) -> DataFrame:
    """Per-language view of the (lang, source) MV: additive columns sum;
    provenance breadth (n_sources) = the source rows themselves — exact,
    because the MV keeps the finest grain that stays delta-foldable."""
    return stats.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_sources"),
    )


def start_corpus_stats_maintenance(
    doc_stream: DataFrame,
    stats_dir: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """corpus_stats as a DELTA-MAINTAINED materialized view: each admitted
    document batch folds its per-(lang, source) counts into the versioned
    stats table — per-batch cost is O(|batch| + |stats|), never a corpus
    rescan (the cdc_incremental_agg pattern applied to the curation
    pipeline's dashboard).

    Grain choice is the design point: (lang, source) is the FINEST grain
    at which every maintained column stays additive, so distinct-source
    breadth per language falls out exactly as the row count of the rollup
    — no approximate distinct, no state beyond the stats table itself.
    Distinct-TEXT counting (corpus_stats' n_unique_texts) is deliberately
    NOT here: exact distinct folding needs the per-doc fingerprint store,
    which is the admission signature store's job — a stats MV that
    pretended to fold it would drift on re-admitted duplicates.

    Crash safety mirrors the replica merge: v{N} with _SUCCESS
    short-circuits a replayed batch; the fold reads strictly
    before=batch_id so a replay merges onto N's true predecessor."""
    from ..functions import words

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = os.path.join(stats_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return  # replayed committed batch: idempotent skip
        deltas = (
            batch_df.select(
                "lang",
                "source",
                F.size(words(F.col("text"))).alias("__t"),
                F.length("text").alias("__c"),
            )
            .groupBy("lang", "source")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("__t").cast("long").alias("n_tokens"),
                F.sum("__c").cast("long").alias("n_chars"),
            )
        )
        current = read_corpus_stats(spark, stats_dir, before=batch_id)
        if current is not None:
            merged = (
                current.unionByName(deltas)
                .groupBy("lang", "source")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("n_tokens"),
                    F.sum("n_chars").cast("long").alias("n_chars"),
                )
            )
        else:
            merged = deltas
        merged.write.mode("overwrite").parquet(out)

    writer = (
        doc_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

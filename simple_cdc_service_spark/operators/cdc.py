"""CDC operators: op classification, truncate-epoch filtering, changelog
collapse (snapshot materialization), raw event log, consistency diff.

These are the Spark-first rebuild of the reference consumer's apply loop
(kafka-consumer-service/main.py:47-93). The reference applies events
row-at-a-time with one ClickHouse round-trip per event; here the same
semantics are a declarative plan over the whole changelog:

    classify → truncate-epoch filter → last-event-per-key → drop deletes

Scale notes (100 TB):
  * The collapse is ``groupBy(key).agg(max_by(...))`` — a hash aggregate
    with map-side partial aggregation, ONE shuffle on the key, no global
    sort. (A window ``row_number`` formulation shuffles the same amount but
    adds a per-partition sort; max_by wins when each key's history is long.)
  * The truncate epoch is a 1-row aggregate broadcast back over the stream —
    no driver collect, no second shuffle.
  * Skewed keys (one hot row updated millions of times) are handled by the
    partial aggregation: each map task pre-collapses its partition before
    the shuffle, so the reducer for a hot key receives at most one row per
    map task. AQE skew-join handling is irrelevant here — this is an agg.
  * The envelope → changelog derivation is SQL text (changelog_sql), so a
    streaming sink plans it as one statement, on the stream or per
    micro-batch, instead of rebuilding ~100 Column calls; planning is
    fixed per-batch driver time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ChangeTableConfig


def classify_op(before: Column, after: Column) -> Column:
    """4-way null-ness branch, exactly the consumer's discriminator
    (main.py:49 insert, :54 update, :75 delete, :88 truncate, :92 unknown).

    The reference ignores the envelope's own ``op`` field and derives the
    operation from which of before/after are null; we reproduce that
    contract (and unit-test it against the envelope ``op`` codes).
    """
    return (
        F.when(before.isNull() & after.isNotNull(), F.lit("insert"))
        .when(before.isNotNull() & after.isNotNull(), F.lit("update"))
        .when(before.isNotNull() & after.isNull(), F.lit("delete"))
        .when(before.isNull() & after.isNull(), F.lit("truncate"))
        .otherwise(F.lit("unknown"))
    )


def truncate_epoch_filter(
    changelog: DataFrame,
    op_col: str = "op",
    order_cols: "str | tuple[str, ...]" = "offset",
) -> DataFrame:
    """Keep only events after the last truncate marker.

    Reference semantics: ``op='t'`` wipes the replica (TRUNCATE TABLE,
    main.py:88-90); in a replayed-changelog model only events *after* the
    last truncate contribute to the final state (SURVEY.md §2 R10).

    Implemented as a 1-row max aggregate cross-joined (broadcast) back onto
    the stream — stays fully distributed, nothing on the driver. The order
    may be a single column or a coordinate tuple (e.g. Debezium's
    (source.file, source.pos)); comparison is on the packed struct
    (lexicographic), with a NULL epoch meaning "no truncate seen".
    """
    if isinstance(order_cols, str):
        order_cols = (order_cols,)
    pos = F.struct(*[F.col(c) for c in order_cols])
    epoch = changelog.filter(F.col(op_col) == "t").agg(F.max(pos).alias("__t_off"))
    return (
        changelog.crossJoin(F.broadcast(epoch))
        .filter(
            (F.col("__t_off").isNull() | (pos > F.col("__t_off")))
            & (F.col(op_col) != "t")
        )
        .drop("__t_off")
    )


def collapse_changelog(changelog: DataFrame, cfg: ChangeTableConfig) -> DataFrame:
    """Changelog → current-state snapshot (R11: the composite of the
    consumer's insert/update/delete/truncate apply paths, main.py:47-93).

    For each key: take the latest event (by the total order), drop the key
    if that event is a delete. Truncate markers reset everything before
    them. Requires ``cfg.order_columns`` to totally order events per key —
    the explicit version of the reference's implicit single-partition Kafka
    ordering (SURVEY.md §1.3).

    Plan shape: one per-column ``max_by`` per value column plus one for the
    op code. Keeping every aggregation buffer primitive matters: a single
    ``max_by(struct, …)`` would be semantically identical but its
    struct-typed buffer forces SortAggregate (per-partition sort); with
    primitive buffers Catalyst emits a partial+final HashAggregate — one
    shuffle of |keys| pre-collapsed rows and no sort anywhere
    (tests/test_plans.py pins this).
    """
    df = truncate_epoch_filter(changelog, cfg.op_column, cfg.order_columns)
    order = (
        F.col(cfg.order_columns[0])
        if len(cfg.order_columns) == 1
        else F.struct(*[F.col(c) for c in cfg.order_columns])
    )
    # op as its ascii code: numeric buffer, and 'd' (100) is testable on
    # the aggregated result without re-decoding.
    aggs = [F.max_by(F.col(c), order).alias(c) for c in cfg.value_columns]
    aggs.append(F.max_by(F.ascii(F.col(cfg.op_column)), order).alias("__op_code"))
    last = df.groupBy(*cfg.key_columns).agg(*aggs)
    return last.filter(F.col("__op_code") != ord("d")).select(
        *cfg.key_columns, *cfg.value_columns
    )


def collapse_changelog_window(changelog: DataFrame, cfg: ChangeTableConfig) -> DataFrame:
    """Alternative formulation via window ``row_number`` — kept as an
    independent implementation for the consistency-diff check (R16) and as
    the variant to prefer when you need N latest versions, not just 1.
    """
    from pyspark.sql.window import Window

    df = truncate_epoch_filter(changelog, cfg.op_column, cfg.order_columns)
    w = Window.partitionBy(*cfg.key_columns).orderBy(
        *[F.col(c).desc() for c in cfg.order_columns]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(cfg.op_column) != "d"))
        .select(*cfg.key_columns, *cfg.value_columns)
    )


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier for the SQL text builders. Braces are
    doubled because the text is a ``spark.sql(text, parsed=df)`` format
    template."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def sql_str(s: str) -> str:
    """Single-quoted SQL string literal (a named_struct field name, a
    from_json schema), escaped the same way."""
    s = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + s.replace("{", "{{").replace("}", "}}") + "'"


# classify_op's null-ness branch, as the Debezium op code it implies:
# only `after` → insert, both → update, only `before` → delete, neither →
# truncate (main.py:49,54,75,88).
_OP_CODE = (
    "CASE WHEN before IS NULL THEN IF(after IS NULL, 't', 'c') "
    "ELSE IF(after IS NULL, 'd', 'u') END"
)


def changelog_sql(cfg: ChangeTableConfig, passthrough: "dict[str, str]") -> str:
    """SELECT text of the envelope → flat changelog derivation (the one
    implementation behind envelope_changelog, snapshot_from_envelopes and
    the streaming merges), reading the parsed envelopes
    from the ``{parsed}`` slot of ``spark.sql(text, parsed=df)``.

    ``passthrough`` maps output name → SQL expression over the parsed
    envelopes (order coordinates, raw message, …). The text depends only
    on its arguments, so a sink builds it once and re-plans it per
    micro-batch or plans it once on a stream."""
    keys, vals = cfg.key_columns, cfg.value_columns
    names = [sql_ident(n) for n in passthrough]
    pass_exprs = [f"{e} AS {n}" for n, e in zip(names, passthrough.values())]
    key_changed = " OR ".join(
        f"before.{sql_ident(k)} <> after.{sql_ident(k)}" for k in keys
    )

    def event(op: str, key_src: str) -> str:
        # values always come from `after`; a 'd' row's values are never
        # read by the collapse (keeps the struct type uniform across the
        # array branches)
        fields = [f"'__op', {op}"]
        fields += [f"{sql_str(k)}, {key_src}.{sql_ident(k)}" for k in keys]
        fields += [f"{sql_str(v)}, after.{sql_ident(v)}" for v in vals]
        return f"named_struct({', '.join(fields)})"

    # for deletes/truncates `after` is null → keys fall back to `before`
    out = [
        *names,
        f"__e.__op AS {sql_ident(cfg.op_column)}",
        *[
            f"coalesce(__e.{sql_ident(k)}, before.{sql_ident(k)}) AS {sql_ident(k)}"
            for k in keys
        ],
        *[f"__e.{sql_ident(v)} AS {sql_ident(v)}" for v in vals],
    ]
    # PK-changing update → delete(before.key) + insert(after.key)
    delete_old, insert_new = event("'d'", "before"), event("'c'", "after")
    events = (
        f"CASE WHEN __code = 'u' AND ({key_changed}) "
        f"THEN array({delete_old}, {insert_new}) "
        f"ELSE array({event('__code', 'after')}) END"
    )
    coded = (
        f"SELECT {', '.join([*pass_exprs, 'before', 'after'])}, "
        f"{_OP_CODE} AS __code FROM {{parsed}}"
    )
    exploded = (
        f"SELECT {', '.join([*names, 'before'])}, explode({events}) AS __e "
        f"FROM ({coded})"
    )
    return f"SELECT {', '.join(out)} FROM ({exploded})"


def envelope_changelog(
    parsed: DataFrame,
    cfg: ChangeTableConfig,
    passthrough_cols: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """Parsed Debezium envelopes → flat keyed changelog rows (the shared
    front half of the batch snapshot AND the streaming merge, so the two
    paths cannot disagree on the same input).

    Derives the flat changelog from the envelope structs:
      * key from ``after`` (falling back to ``before`` for deletes —
        example/delete.json populates only ``before``, insert.json only
        ``after``).
      * values from ``after``.
      * op from the null-ness classifier (NOT the envelope's op field —
        matching the consumer's actual discriminator, main.py:49-88).

    PK-changing update (before.key ≠ after.key): the reference would
    corrupt its replica (UPDATE ... WHERE pk = before.pk leaves the old
    row keyed wrong, main.py:56-70; SURVEY.md §1.3). Correct semantics is
    delete(before.key) + upsert(after.key) — emitted here as two changelog
    rows from one envelope via a conditional explode.

    ``passthrough_cols`` are copied through unchanged (default:
    ``cfg.order_columns``) — order coordinates, raw message, etc. The plan
    is one ``spark.sql`` statement from changelog_sql."""
    passthrough = passthrough_cols or cfg.order_columns
    text = changelog_sql(cfg, {c: sql_ident(c) for c in passthrough})
    return parsed.sparkSession.sql(text, parsed=parsed)


def snapshot_from_envelopes(parsed: DataFrame, cfg: ChangeTableConfig) -> DataFrame:
    """Parsed Debezium envelopes → replica snapshot (the full consumer apply
    path, main.py:47-93, as one declarative plan): the shared
    envelope_changelog derivation followed by the standard collapse."""
    return collapse_changelog(envelope_changelog(parsed, cfg), cfg)


def scd2_history(
    changelog: DataFrame,
    key_cols: "tuple[str, ...]",
    value_cols: "tuple[str, ...]",
    order_col: str = "offset",
    ts_col: "str | None" = None,
    op_col: str = "op",
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history from a changelog.

    Where ``collapse_changelog`` keeps only each key's LATEST state (the
    reference replica, main.py:47-93), this materializes every version a
    key ever held, with its validity interval — the standard warehouse
    history table a CDC pipeline feeds:

      * every live 'c'/'u' event opens a version at its own position;
      * the key's NEXT event (of any op — another update or a delete)
        closes it: ``valid_to = lead(order) over (partition by key)``;
      * a version with no successor is current (``valid_to IS NULL``);
      * delete events close the prior version but emit no row themselves;
      * truncate epochs wipe history (only the live epoch is versioned),
        matching the snapshot's TRUNCATE semantics (R10).

    Plan shape: the standard truncate-epoch broadcast filter, then ONE
    shuffle on the key for the lead() window — the same cost class as the
    window formulation of the collapse. At 100 TB this partitions by key
    exactly like the snapshot; no extra exchange, no driver state. Sink
    guidance: partition the history table by a date of ``valid_from`` and
    cluster by key so "as of" lookups prune.
    """
    from pyspark.sql.window import Window

    df = truncate_epoch_filter(changelog, op_col, order_col)
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    cols = [
        *key_cols,
        *value_cols,
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w).alias("valid_to"),
    ]
    if ts_col is not None:
        cols += [
            F.col(ts_col).alias("valid_from_ts"),
            F.lead(ts_col).over(w).alias("valid_to_ts"),
        ]
    return (
        df.select(*cols, F.col(op_col).alias("__op"))
        .filter(F.col("__op") != "d")
        .drop("__op")
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def event_log(changelog: DataFrame, ts_col: Column, message: Column) -> DataFrame:
    """Append-only raw event log (R4): every non-tombstone message with its
    broker timestamp, mirroring dev.kafka_message_log
    (clickhouse/init-script/db-table-init.sql:3-9; populated main.py:42-45).
    A pure projection — at scale this is the cheap branch of the stream
    (no shuffle; partition the sink by time for pruning).
    """
    return changelog.select(ts_col.alias("timestamp"), message.alias("kafka_message"))


def consistency_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Symmetric multiset difference (R16): the Spark form of the reference
    consistency test's sort-both-and-compare-row-by-row
    (tests/test_consistency.py:56-75). Empty result ⇔ multiset equality.

    ``exceptAll`` both ways so duplicate-cardinality mismatches are caught;
    each side is one hash-partitioned anti-semantics join — no global sort,
    unlike the reference's ORDER BY + zip.
    """
    l_minus_r = left.exceptAll(right).withColumn("side", F.lit("left_only"))
    r_minus_l = right.exceptAll(left).withColumn("side", F.lit("right_only"))
    return l_minus_r.unionAll(r_minus_l)

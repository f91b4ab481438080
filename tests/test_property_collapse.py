"""Property-based check (hypothesis): for ANY changelog, the engine's
collapse must equal a sequential dict replay — the generalization of the
reference's oracle-equality tests beyond the seeded generator."""

from hypothesis import example, given, settings, strategies as st

from simple_cdc_service_spark.config import ChangeTableConfig
from simple_cdc_service_spark.operators import cdc

CFG = ChangeTableConfig(
    name="t", key_columns=("k",), value_columns=("v",), order_columns=("offset",)
)

event = st.tuples(
    st.sampled_from(["c", "u", "d", "t"]),
    st.integers(min_value=0, max_value=9),   # key
    st.integers(min_value=0, max_value=99),  # value
)


def replay(events):
    state = {}
    for op, k, v in events:
        if op == "t":
            state.clear()
        elif op == "d":
            state.pop(k, None)
        else:
            state[k] = v
    return state


@given(st.lists(event, max_size=60))
@settings(max_examples=12, deadline=None)
def test_collapse_equals_sequential_replay(spark, events):
    rows = [
        (i, op, None if op == "t" else k, None if op in ("t", "d") else v)
        for i, (op, k, v) in enumerate(events)
    ]
    ch = spark.createDataFrame(rows, "offset long, op string, k long, v long")
    # deletes in the flat changelog carry the key (before-image), value null
    got = {r.k: r.v for r in cdc.collapse_changelog(ch, CFG).collect()}
    # sequential truth: deletes remove the key, truncates clear everything
    expected = replay(events)
    # collapse drops keys whose final event is delete; replay's delete list
    # differs subtly: a delete of key k ONLY erases if no later upsert —
    # both semantics agree because collapse keeps the LATEST event per key.
    assert got == expected


def replay_history(events):
    """Sequential truth for SCD2: every version a key held in the live
    epoch with its [open, close) offsets; truncate wipes all history."""
    open_ver: dict[int, list] = {}
    closed: list[list] = []
    for i, (op, k, v) in enumerate(events):
        if op == "t":
            closed.clear()
            open_ver.clear()
        elif op == "d":
            if k in open_ver:
                ver = open_ver.pop(k)
                ver[3] = i
                closed.append(ver)
        else:  # c/u: close any open version, open a new one
            if k in open_ver:
                ver = open_ver.pop(k)
                ver[3] = i
                closed.append(ver)
            open_ver[k] = [k, v, i, None]
    return sorted(
        (k, v, vf, vt, vt is None) for k, v, vf, vt in closed + list(open_ver.values())
    )


@given(st.lists(event, max_size=60))
@settings(max_examples=12, deadline=None)
def test_scd2_equals_sequential_replay(spark, events):
    """For ANY changelog, scd2_history must produce exactly the versions a
    sequential replay records — intervals, open flags, truncate wipes,
    delete closes, re-insert-after-delete reopenings, all of it."""
    rows = [
        (i, op, None if op == "t" else k, None if op in ("t", "d") else v)
        for i, (op, k, v) in enumerate(events)
    ]
    ch = spark.createDataFrame(rows, "offset long, op string, k long, v long")
    hist = cdc.scd2_history(ch, key_cols=("k",), value_cols=("v",), order_col="offset")
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in hist.collect()
    )
    assert got == replay_history(events)


# ---------------------------------------------------------------------------
# As-of join property: for ANY (left, right) event sets, the union+window
# composition must equal the brute-force python definition — "the right row
# with the greatest ts strictly below the left ts, per key" — including
# ties, duplicate right timestamps (latest-wins pre-dedup), and keys with
# no right rows at all.
# ---------------------------------------------------------------------------

asof_left = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # ts
    ),
    max_size=30,
)
asof_right = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # ts
        st.integers(min_value=0, max_value=999),  # payload
    ),
    max_size=30,
)


def asof_reference(left, right):
    # pre-dedup: one right row per (key, ts), max payload wins — matching
    # the operator's max_by(ts) contract requires latest-by-ts; for equal
    # (key, ts) max_by ties are broken arbitrarily in Spark, so make the
    # payload unique per (key, ts) in the strategy instead (see caller).
    out = []
    for i, (k, ts) in enumerate(left):
        cands = [(rts, p) for (rk, rts, p) in right if rk == k and rts < ts]
        best = max(cands) if cands else None
        out.append((i, k, ts, best[1] if best else None))
    return out


@given(asof_left, asof_right)
@settings(max_examples=10, deadline=None)
def test_asof_join_equals_bruteforce(spark, left, right):
    from simple_cdc_service_spark.operators.temporal import asof_join

    # make right payloads unique per (key, ts): keep only the max payload
    dedup = {}
    for k, ts, p in right:
        dedup[(k, ts)] = max(p, dedup.get((k, ts), -1))
    right = [(k, ts, p) for (k, ts), p in dedup.items()]

    l_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(l_rows or [(0, 0, 0)], "lid long, k long, ts long")
    if not l_rows:
        ldf = ldf.limit(0)
    rdf = spark.createDataFrame(
        right or [(0, 0, 0)], "k long, ts long, payload long"
    )
    if not right:
        rdf = rdf.limit(0)
    got = {
        (r.lid, r.k, r.ts, r.asof_payload)
        for r in asof_join(
            ldf, rdf, key="k", ts="ts", right_cols=["payload"], strict=True
        ).collect()
    }
    want = {
        (i, k, ts, p) for (i, k, ts, p) in asof_reference(left, right)
    }
    assert got == want


# ---------------------------------------------------------------------------
# interval_join_bucketed: for ANY point set and ANY interval set — including
# intervals spanning many buckets (fan-out >> 2), sub-bucket intervals,
# empty intervals (lo == hi), negative timestamps, and bucket-boundary
# points — the bucketed equi-join must produce each qualifying
# (point, interval) pair EXACTLY once (exactly-once is the part a wrong
# bucket fan-out silently breaks: a missed bucket drops pairs, a dedup-less
# double-cover duplicates them).
# ---------------------------------------------------------------------------

iv_points = st.lists(st.integers(min_value=-50, max_value=150), max_size=25)
iv_intervals = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=150),
        st.integers(min_value=0, max_value=90),
    ),
    max_size=12,
)


@given(iv_points, iv_intervals, st.sampled_from([1, 3, 7, 16, 64]))
@settings(max_examples=12, deadline=None)
def test_interval_join_bucketed_equals_bruteforce(spark, pts, ivs, bucket):
    from simple_cdc_service_spark.operators.temporal import interval_join_bucketed

    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pts)] or [(0, 0)], "pid long, ts long"
    )
    if not pts:
        pdf = pdf.limit(0)
    idf = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)] or [(0, 0, 0)],
        "iid long, lo long, hi long",
    )
    if not ivs:
        idf = idf.limit(0)
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join_bucketed(pdf, idf, "ts", "lo", "hi", bucket).collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= t < lo + ln
    )
    assert got == want


@given(iv_points, iv_intervals, st.sampled_from([1, 3, 7, 16, 64]))
@settings(max_examples=12, deadline=None)
def test_interval_join_preagg_equals_bruteforce(spark, pts, ivs, bucket):
    """Pre-aggregated interior + exact edges must equal the brute-force
    containment aggregate for every bucket width — including sub-bucket
    intervals, bucket-aligned bounds, negative timestamps, and empty
    inputs (value = the point's ts, so sums catch misassignment)."""
    from simple_cdc_service_spark.operators.temporal import interval_join_preagg

    pdf = spark.createDataFrame(
        [(t, t) for t in pts] or [(0, 0)], "ts long, v long"
    )
    if not pts:
        pdf = pdf.limit(0)
    idf = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)] or [(0, 0, 0)],
        "iid long, lo long, hi long",
    )
    if not ivs:
        idf = idf.limit(0)
    got = {
        r.iid: (r.n_events, r.sum_value)
        for r in interval_join_preagg(
            pdf, idf, "ts", "lo", "hi", bucket, "v"
        ).collect()
    }
    want = {}
    for j, (lo, ln) in enumerate(ivs):
        hits = [t for t in pts if lo <= t < lo + ln]
        if hits:
            want[j] = (len(hits), sum(hits))
    assert got == want


@given(iv_points, iv_intervals, st.sampled_from([1, 3, 7, 16, 64]))
@settings(max_examples=10, deadline=None)
def test_interval_distinct_hll_within_bound(spark, pts, ivs, bucket):
    """Sketch-union distinct vs brute force: at these cardinalities HLL
    runs in sparse mode, so the estimate should be within max(1, 5%) of
    exact for every interval — and intervals with no points must not
    appear at all."""
    from simple_cdc_service_spark.operators.temporal import (
        interval_join_distinct_hll,
    )

    pdf = spark.createDataFrame(
        [(t, t % 7) for t in pts] or [(0, 0)], "ts long, uid long"
    )
    if not pts:
        pdf = pdf.limit(0)
    idf = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)] or [(0, 0, 0)],
        "iid long, lo long, hi long",
    )
    if not ivs:
        idf = idf.limit(0)
    got = {
        r.iid: r.n_distinct_est
        for r in interval_join_distinct_hll(
            pdf, idf, "ts", "lo", "hi", bucket, "uid"
        ).collect()
    }
    for j, (lo, ln) in enumerate(ivs):
        exact = len({t % 7 for t in pts if lo <= t < lo + ln})
        if exact == 0:
            assert j not in got
        else:
            assert abs(got[j] - exact) <= max(1.0, 0.05 * exact), (j, got[j], exact)


# ---------------------------------------------------------------------------
# Streaming replica sinks: for ANY envelope stream — c/u/d/t, PK-changing
# updates, tombstones, corrupt messages, with or without binlog
# coordinates — split into 1-3 micro-batches, the manifest merge on a
# bootstrapped store, the same merge with its incremental aggregate on an
# empty one, and the multi-table route must all land on a sequential
# replay. With coordinates,
# each batch's lines arrive shuffled (Kafka offset order ≠ source order),
# so the merges must order by the binlog position.
# ---------------------------------------------------------------------------

stream_event = st.tuples(
    st.sampled_from(["c", "u", "d", "t", "pk", "tomb", "bad"]),
    st.integers(min_value=0, max_value=7),   # key (before-key for pk)
    st.integers(min_value=0, max_value=7),   # after-key of a pk update
    st.integers(min_value=0, max_value=99),  # value
)
stream_spec = st.tuples(
    st.lists(stream_event, min_size=1, max_size=24),
    st.lists(st.integers(min_value=1, max_value=23), max_size=2),  # cuts
    st.booleans(),  # binlog coordinates present
    st.integers(min_value=0, max_value=2**16),  # in-batch arrival shuffle
)
# the manifest stores start from a bootstrapped snapshot
BOOT = {k: 1000 + k for k in range(0, 8, 2)}


def _message(kind, k, k2, v, pos, coords):
    import json
    import random

    from simple_cdc_service_spark.sources.changelog import _envelope

    if kind == "tomb":
        return None
    if kind == "bad":
        return random.Random(pos).choice(["NOT JSON {", "123", '{"payload": 7}'])
    def row(key):
        return {"order_id": key, "invoice_number": v}

    op, before, after = {
        "c": ("c", None, row(k)),
        "u": ("u", row(k), row(k)),
        "d": ("d", row(k), None),
        "t": ("t", None, None),
        "pk": ("u", row(k), row(k2)),
    }[kind]
    env = _envelope(op, before, after, pos, pos)
    if not coords:
        env["payload"]["source"] = {"table": "invoice"}
    return json.dumps(env)


def stream_replay(events, state):
    state = dict(state)
    for kind, k, k2, v in events:
        if kind == "t":
            state.clear()
        elif kind == "d":
            state.pop(k, None)
        elif kind == "pk":
            state.pop(k, None)
            state[k2] = v
        elif kind in ("c", "u"):
            state[k] = v
    return state


def _write_stream(src, spec):
    """One file per micro-batch, modification times in batch order (the
    sinks read with maxFilesPerTrigger=1)."""
    import json
    import os
    import random

    events, cuts, coords, shuffle_seed = spec
    bounds = sorted({0, len(events), *[c for c in cuts if c < len(events)]})
    os.makedirs(src)
    offset = 0
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        lines = [
            _message(*events[i], pos=100 + 10 * i, coords=coords)
            for i in range(lo, hi)
        ]
        if coords:
            random.Random(shuffle_seed + b).shuffle(lines)
        path = os.path.join(src, f"b{b}.json")
        with open(path, "w") as f:
            for m in lines:
                f.write(json.dumps({"offset": offset, "timestamp": offset, "value": m}) + "\n")
                offset += 1
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return len(bounds) - 1


def _batches_stream(spark, src):
    from simple_cdc_service_spark.streaming.pipeline import KAFKA_LIKE_SCHEMA

    return (
        spark.readStream.schema(KAFKA_LIKE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )


def _replica(df):
    return {r.order_id: r.invoice_number for r in df.collect()}


C = lambda k, v: ("c", k, 0, v)  # noqa: E731
T = ("t", 0, 0, 0)
# BOOT at 2 rows per file is [0, 2] and [4, 6]: batch 0 (keys 1, 3)
# touches only [0, 2], which is rewritten as [0, 1] and [2, 3]; batch 1
# (keys 1, 3, 5) touches all three files
BOTH_WRITES = (
    [C(1, 1), C(3, 3), ("u", 1, 0, 2), ("u", 3, 0, 4), C(5, 5)], [2], True, 0
)
# a truncate mid-batch, between two batches of upserts
TRUNCATE_MID_BATCH = (
    [C(1, 1), C(3, 3), ("u", 1, 0, 5), T, C(5, 5), ("d", 5, 0, 0), C(7, 7),
     ("pk", 7, 1, 8)], [2], True, 3,
)
# a batch that is only a truncate
TRUNCATE_ONLY_BATCH = (
    [C(1, 1), ("tomb", 0, 0, 0), C(3, 3), T, C(5, 5)], [3, 4], False, 0
)
# truncate then inserts in one batch on the bootstrapped manifest stores:
# the truncate events' NULL-key group must stay out of the pruning keys
TRUNCATE_THEN_INSERTS = ([T, C(3, 30), C(5, 50), ("bad", 0, 0, 0)], [], True, 1)


@given(stream_spec)
@settings(max_examples=6, deadline=None)
@example(TRUNCATE_MID_BATCH)
@example(TRUNCATE_ONLY_BATCH)
@example(TRUNCATE_THEN_INSERTS)
# both writes on the bootstrapped stores: batch 0 touches one of the two
# files (clustered rewrite), batch 1 touches every file (flat rewrite)
@example(BOTH_WRITES)
def test_replica_sinks_equal_sequential_replay(spark, spec):
    import os
    import tempfile

    from simple_cdc_service_spark.config import INVOICE
    from simple_cdc_service_spark.schemas import INVOICE_ROW
    from simple_cdc_service_spark.streaming import (
        bootstrap_manifest_store,
        read_agg,
        read_replica_manifest,
        start_multi_table_merge,
        start_replica_merge_manifest,
    )
    from simple_cdc_service_spark.streaming.pipeline import (
        _manifest_versions,
        _read_manifest,
    )

    boot = spark.createDataFrame(
        sorted(BOOT.items()), "order_id long, invoice_number long"
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        n_batches = _write_stream(src, spec)

        def ckpt(name):
            return os.path.join(d, f"ck_{name}")

        manifest = os.path.join(d, "manifest")
        bootstrap_manifest_store(boot, INVOICE, manifest, target_rows_per_file=2)
        start_replica_merge_manifest(
            _batches_stream(spark, src), INVOICE, manifest, ckpt("manifest"),
            target_rows_per_file=2,
        ).awaitTermination()

        # the aggregate needs a store that starts empty: a bootstrapped
        # version carries no aggregate to build on
        plain = os.path.join(d, "plain")
        start_replica_merge_manifest(
            _batches_stream(spark, src), INVOICE, plain, ckpt("plain"),
            target_rows_per_file=2, agg_col="invoice_number",
        ).awaitTermination()

        multi = os.path.join(d, "multi")
        bootstrap_manifest_store(
            boot, INVOICE, os.path.join(multi, "invoice"), target_rows_per_file=2
        )
        start_multi_table_merge(
            _batches_stream(spark, src), {"invoice": (INVOICE, INVOICE_ROW)},
            multi, ckpt("multi"), target_rows_per_file=2,
        ).awaitTermination()

        # one micro-batch per file, or the split was not exercised
        commits = os.listdir(os.path.join(d, "ck_manifest", "commits"))
        assert sum(f.isdigit() for f in commits) == n_batches
        events = spec[0]
        want_boot = stream_replay(events, BOOT)
        want = stream_replay(events, {})
        assert _replica(read_replica_manifest(spark, manifest)) == want_boot
        assert _replica(
            read_replica_manifest(spark, os.path.join(multi, "invoice"))
        ) == want_boot
        rep = read_replica_manifest(spark, plain)
        assert (_replica(rep) if rep is not None else {}) == want
        agg = read_agg(spark, plain)
        got_agg = (agg.sum_value, agg.n_keys) if agg else (0.0, 0)
        assert got_agg == (float(sum(want.values())), len(want))
        if spec == BOTH_WRITES:
            for store in (manifest, os.path.join(multi, "invoice")):
                writes = [
                    (m["files_touched"], m["files_total"])
                    for m in (
                        _read_manifest(store, v)
                        for v in _manifest_versions(store)
                        if v >= 0
                    )
                ]
                assert any(0 < t < n for t, n in writes), writes
                assert any(0 < t == n for t, n in writes), writes


# The SCD2 history store starts empty. At 2 rows per file batch 0's four
# versions are [1, 3] and [5, 7]; batch 1 (key 1) touches only [1, 3],
# and batch 2 touches every file
SCD2_BOTH_WRITES = (
    [C(1, 1), C(3, 3), C(5, 5), C(7, 7), ("u", 1, 0, 2), ("u", 1, 0, 3),
     ("u", 3, 0, 4), ("u", 5, 0, 6), ("u", 7, 0, 8)], [4, 5], True, 0,
)


@given(stream_spec)
@settings(max_examples=6, deadline=None)
@example(TRUNCATE_MID_BATCH)
@example(TRUNCATE_ONLY_BATCH)
@example(TRUNCATE_THEN_INSERTS)
@example(BOTH_WRITES)
@example(SCD2_BOTH_WRITES)
def test_scd2_sink_equals_batch_history(spark, spec):
    """The SCD2 history sink, fed one micro-batch per file at 2 rows per
    file (so batches prune, and write both ranged and flat), must hold
    exactly scd2_history over the whole stream's changelog, and its
    current versions must be the sequential replay."""
    import os
    import tempfile
    from collections import Counter

    from pyspark.sql import functions as F

    from simple_cdc_service_spark.config import INVOICE
    from simple_cdc_service_spark.sources.changelog import parse_envelopes
    from simple_cdc_service_spark.streaming import read_replica_manifest
    from simple_cdc_service_spark.streaming.pipeline import (
        _ORDER_COORDINATE,
        KAFKA_LIKE_SCHEMA,
        _manifest_versions,
        _merge_scd2_batch,
        _read_manifest,
    )

    cols = ["order_id", "invoice_number", "valid_from", "valid_to", "is_current"]

    def versions(df):
        rows = df.select(*cols).collect() if df is not None else []
        return Counter(tuple(r) for r in rows)

    with tempfile.TemporaryDirectory() as d:
        src, hist = os.path.join(d, "src"), os.path.join(d, "hist")
        n_batches = _write_stream(src, spec)

        def merge(batch_df, batch_id):
            _merge_scd2_batch(
                parse_envelopes(batch_df), INVOICE, hist, batch_id,
                target_rows_per_file=2,
            )

        ckpt = os.path.join(d, "ck_hist")
        _batches_stream(spark, src).writeStream.foreachBatch(merge).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination()
        commits = os.listdir(os.path.join(ckpt, "commits"))
        assert sum(f.isdigit() for f in commits) == n_batches

        parsed = parse_envelopes(
            spark.read.schema(KAFKA_LIKE_SCHEMA).json(src)
        ).withColumn("__ord", F.expr(_ORDER_COORDINATE))
        want = cdc.scd2_history(
            cdc.envelope_changelog(parsed, INVOICE, passthrough_cols=("__ord",)),
            key_cols=("order_id",),
            value_cols=("invoice_number",),
            order_col="__ord",
        )
        got = read_replica_manifest(spark, hist)
        assert versions(got) == versions(want)
        current = {} if got is None else _replica(got.filter("is_current"))
        assert current == stream_replay(spec[0], {})
        if spec == SCD2_BOTH_WRITES:
            writes = [
                (m["files_touched"], m["files_total"])
                for m in (_read_manifest(hist, v) for v in _manifest_versions(hist))
            ]
            assert any(0 < t < n for t, n in writes), writes
            assert any(0 < t == n for t, n in writes), writes

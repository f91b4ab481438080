"""Streaming throughput micro-benchmark (not part of the driver's bench.py
contract — records the CDC pipeline's end-to-end micro-batch rate).

Feeds the seeded envelope workload through the checkpointed replica merge
(start_replica_merge_manifest) in K chunks (K micro-batch cycles incl.
store read-merge-write) and prints events/sec overall.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_cdc_service_spark.config import INVOICE
from simple_cdc_service_spark.session import get_spark
from simple_cdc_service_spark.sources.changelog import generate_envelopes
from simple_cdc_service_spark.streaming import (
    read_changelog_stream,
    read_replica_manifest,
    start_replica_merge_manifest,
)


def main(n_events: int = 50_000, chunks: int = 5) -> None:
    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    src, state, ckpt = f"{d}/src", f"{d}/state", f"{d}/ckpt"
    os.makedirs(src)
    msgs, expected = generate_envelopes(n=n_events, seed=42, truncate_every=None,
                                        key_space=n_events // 3)
    per = len(msgs) // chunks
    load_start = os.getloadavg()[0]
    batch_secs = []
    t0 = time.perf_counter()
    for c in range(chunks):
        lo, hi = c * per, (c + 1) * per if c < chunks - 1 else len(msgs)
        with open(f"{src}/c{c}.json", "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"offset": i, "timestamp": i, "value": msgs[i]}) + "\n")
        tb = time.perf_counter()
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    got = {
        r.order_id: r.invoice_number
        for r in read_replica_manifest(spark, state).collect()
    }
    ok = got == expected
    print(json.dumps({
        "metric": "cdc_stream_events_per_sec",
        "value": round(len(msgs) / wall, 1),
        "unit": "events/sec",
        "events": len(msgs),
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        # per micro-batch-cycle latency (incl. stream start/stop overhead
        # of the availableNow restart harness — a long-lived query would
        # only pay the merge part)
        "batch_sec": batch_secs,
        # host-load caveat: co-tenant load inflates wall times 2-3x on
        # this shared box; loadavg contextualizes any one measurement
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
        "replica_exact": ok,
    }))
    spark.stop()


def bench_admission(
    n_docs: int = 5_000,
    chunks: int = 5,
    dup_fraction: float = 0.1,
    fuse_probe: bool = False,
) -> None:
    """Corpus-admission throughput: feed the sf0.1 documents table through
    start_corpus_dedup_admission in K micro-batch cycles (within-batch
    collapse → signature-store probe → bounded verify → versioned commit)
    and print docs/sec. ``dup_fraction`` of each later chunk re-sends
    near-copies of earlier docs so the cross-batch probe/verify path does
    real work instead of short-circuiting on zero candidates."""
    import duckdb

    from simple_cdc_service_spark.streaming.pipeline import (
        read_corpus,
        start_corpus_dedup_admission,
    )

    spark = get_spark("bench-admission")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT {n_docs}"
    ).fetchall()
    d = tempfile.mkdtemp()
    src, corpus_dir, ckpt = f"{d}/src", f"{d}/corpus", f"{d}/ckpt"
    os.makedirs(src)
    per = len(rows) // chunks
    n_dup = int(per * dup_fraction)
    load_start = os.getloadavg()[0]
    batch_secs = []
    total_fed = 0
    t0 = time.perf_counter()
    for c in range(chunks):
        lo, hi = c * per, (c + 1) * per if c < chunks - 1 else len(rows)
        with open(f"{src}/c{c}.json", "w") as f:
            for did, text in rows[lo:hi]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
                total_fed += 1
            if c > 0:  # near-copies of the previous chunk's head
                for did, text in rows[(c - 1) * per : (c - 1) * per + n_dup]:
                    f.write(json.dumps(
                        {"doc_id": 1_000_000 * c + did, "text": text + " tail"}
                    ) + "\n")
                    total_fed += 1
        tb = time.perf_counter()
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        start_corpus_dedup_admission(
            stream, corpus_dir, ckpt, threshold=0.6, fuse_probe=fuse_probe
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    corpus = read_corpus(spark, corpus_dir)
    admitted = corpus.count()
    # every planted near-copy (doc_id >= 1e6) must have been rejected by
    # the store probe; the documents table also contains GENUINE near-dups
    # (the same pairs dedup_minhash reports), which admission rightly
    # rejects too — so admitted < docs_fed even with perfect planting.
    planted_admitted = corpus.filter("doc_id >= 1000000").count()
    print(json.dumps({
        "metric": "admission_docs_per_sec",
        "value": round(total_fed / wall, 1),
        "unit": "docs/sec",
        "docs_fed": total_fed,
        "docs_admitted": admitted,
        "planted_dups_all_rejected": planted_admitted == 0,
        "planted_dups_admitted": planted_admitted,
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        "batch_sec": batch_secs,
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


def bench_admission_store_scale(
    preload_dir: str = "/tmp/sf10",
    n_docs: int = 50_000,
    chunks: int = 5,
    dup_fraction: float = 0.1,
) -> None:
    """Admission against a 100×-scale signature store (VERDICT r7 #4):
    preload the store with the ENTIRE sf10 documents corpus (500k docs,
    one admission batch, timed separately), compact it, then feed
    10×-size micro-batches of FRESH docs (seeded word-shuffles of sf0.1
    texts — same vocabulary statistics, not near-dups of anything
    stored) laced with planted near-copies of PRELOADED docs. Steady
    state measures the O(batch + collisions) claim against a store two
    decades larger than the batch; the planted copies must all be
    rejected by the STORE probe (not the within-batch collapse)."""
    import random

    import duckdb

    from simple_cdc_service_spark.streaming.pipeline import (
        compact_manifest_store,
        read_corpus,
        start_corpus_dedup_admission,
    )

    spark = get_spark("bench-admission-store")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    src, corpus_dir, ckpt = f"{d}/src", f"{d}/corpus", f"{d}/ckpt"
    os.makedirs(src)
    load_start = os.getloadavg()[0]

    # ---- preload: the full sf10 corpus as one admission batch ----
    # ONE checkpoint drives the corpus for its whole life (preload and
    # feed are the same logical stream). The first run of this bench
    # used a second checkpoint for the feed: its batch ids restarted at
    # 0, collided with the preload's committed v0, and 9,999 admitted
    # docs landed below the compaction base — silently invisible to
    # read_corpus. start_corpus_dedup_admission now REFUSES that shape
    # (_bind_checkpoint_to_corpus); the preload source stays parquet and
    # the feed source json, which availableNow restarts support because
    # each chunk is a separate query against the same checkpoint's
    # OFFSET LOG... it is NOT: a checkpoint records one source. The
    # preload therefore feeds through the same json dir as the feed —
    # the 500k docs are written as c_pre.jsonl once (I/O counted in
    # preload_sec, honestly: a real backfill pays its read too).
    import duckdb as _duckdb

    t_pre = time.perf_counter()
    pre_rows = _duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{preload_dir}/documents.parquet')"
    ).fetchall()
    with open(f"{src}/c_pre.json", "w") as f:
        for did, text in pre_rows:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    del pre_rows
    pre_stream = spark.readStream.schema("doc_id long, text string").json(src)
    start_corpus_dedup_admission(
        pre_stream, corpus_dir, ckpt, threshold=0.6
    ).awaitTermination()
    preload_sec = round(time.perf_counter() - t_pre, 2)
    t_cmp = time.perf_counter()
    compact_manifest_store(spark, corpus_dir, min_files=1)
    compact_sec = round(time.perf_counter() - t_cmp, 2)
    store_docs = read_corpus(spark, corpus_dir)
    store_n = store_docs.count()

    # ---- feed: fresh word-shuffles + planted copies of STORED docs ----
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{preload_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT {n_docs}"
    ).fetchall()
    per = len(rows) // chunks
    n_dup = int(per * dup_fraction)
    batch_secs = []
    total_fed = 0
    t0 = time.perf_counter()
    for c in range(chunks):
        lo, hi = c * per, (c + 1) * per if c < chunks - 1 else len(rows)
        with open(f"{src}/c{c}.json", "w") as f:
            for did, text in rows[lo:hi]:
                ws = text.split(" ")
                random.Random(f"{did}-r8-fresh").shuffle(ws)
                f.write(json.dumps(
                    {"doc_id": 10_000_000 + did, "text": " ".join(ws)}
                ) + "\n")
                total_fed += 1
            # planted near-copies of docs that live ONLY in the store —
            # rejection must come from the cross-batch probe
            for did, text in rows[lo : lo + n_dup]:
                f.write(json.dumps(
                    {"doc_id": 20_000_000 + 1_000_000 * c + did,
                     "text": text + " tail"}
                ) + "\n")
                total_fed += 1
        tb = time.perf_counter()
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        start_corpus_dedup_admission(
            stream, corpus_dir, ckpt, threshold=0.6
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    corpus = read_corpus(spark, corpus_dir)
    planted_admitted = corpus.filter("doc_id >= 20000000").count()
    fresh_admitted = corpus.filter(
        "doc_id >= 10000000 AND doc_id < 20000000"
    ).count()
    print(json.dumps({
        "metric": "admission_docs_per_sec_500k_store",
        "value": round(total_fed / wall, 1),
        "unit": "docs/sec",
        "store_docs_preloaded": store_n,
        "preload_sec": preload_sec,
        "compact_sec": compact_sec,
        "docs_fed": total_fed,
        "fresh_admitted": fresh_admitted,
        "planted_dups_all_rejected": planted_admitted == 0,
        "planted_dups_admitted": planted_admitted,
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        "batch_sec": batch_secs,
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


def bench_replica_store_scale(
    n_store: int = 10_000_000, n_events: int = 50_000, chunks: int = 5,
    legs: set | None = None,
) -> None:
    """CDC replica merge against an sf10-SCALE TARGET TABLE (VERDICT r8
    #5): the cdc/scd2 legs replay 50k events into a replica the same
    size as the feed; here the store is a 10M-row replica — 200× any
    batch — and the question is whether the foreachBatch merge regresses
    to O(store) work beyond the unavoidable store I/O.

    Two legs over the manifest store (start_replica_merge_manifest):
      * HOT-KEY feed (100 distinct keys): file-level key stats prune each
        batch to the few files its key range lives in, which are
        rewritten range-partitioned.
      * UNIFORM keys over the whole store: every file is touched, so
        nothing is carried by reference; the merge writes the full
        rewrite flat (no range shuffle) when the store is clustered and
        range-partitioned when a flat write left it overlapping, so the
        writes alternate.

    A versioned full-rewrite store used to run here as a third leg and
    was folded into the manifest store: on a 250k-row store in 25 files
    (local[2], 12 alternating pairs, replicas exact) it won uniform keys
    at 669 vs 1,403 ms per batch only because the manifest store
    range-partitioned rows it could not prune, and it lost hot keys at
    688 vs 602 ms; the manifest store's flat write on an all-touched
    batch is that store's write. (A hash-bucketed store was measured
    here too and removed: ~11 s hot-key walls against ~1.5 s for the
    manifest store, ~50x the flat rewrite on uniform keys —
    BENCH_streaming_r10_store.json.)

    Preload: bootstrap at the RESERVED version -1 (ADVICE r10 fix) — the
    stream's first micro-batch (id 0) merges against the bootstrapped
    store directly, the bootstrap-then-stream path the fix makes safe."""
    spark = get_spark("bench-replica-store")
    spark.sparkContext.setLogLevel("ERROR")
    load_start = os.getloadavg()[0]
    out: dict = {
        "metric": "cdc_store_scale",
        "store_rows": n_store,
        "events_per_chunk": n_events // chunks,
        "loadavg_start": round(load_start, 1),
    }

    def feed_chunks(src: str, msgs, run_batch) -> list[float]:
        per = len(msgs) // chunks
        walls = []
        for c in range(chunks):
            lo, hi = c * per, (c + 1) * per if c < chunks - 1 else len(msgs)
            with open(f"{src}/c{c}.json", "w") as f:
                for i in range(lo, hi):
                    f.write(
                        json.dumps(
                            {"offset": i, "timestamp": i, "value": msgs[i]}
                        )
                        + "\n"
                    )
            tb = time.perf_counter()
            run_batch()
            walls.append(round(time.perf_counter() - tb, 2))
        return walls

    from simple_cdc_service_spark.streaming import bootstrap_manifest_store
    from simple_cdc_service_spark.streaming.pipeline import _read_manifest

    # manifest_uniform draws keys uniformly from the STORE'S WHOLE key
    # domain (key_space = n_store): every range file contains some of
    # each fold's keys, so every fold is a full rewrite. A batch that
    # does not fold writes only its delta (files_touched 0).
    # (A key_space of n_events//3 would cluster every key inside the
    # first file's range and accidentally re-test the hot case.)
    for leg, key_space in (("manifest_hot", 100), ("manifest_uniform", n_store)):
        if legs is not None and leg not in legs:
            continue
        d3 = tempfile.mkdtemp()
        src3, state3, ckpt3 = f"{d3}/src", f"{d3}/state", f"{d3}/ckpt"
        os.makedirs(src3)
        t0 = time.perf_counter()
        base = spark.range(n_store).selectExpr(
            "id AS order_id", "id * 7 AS invoice_number"
        )
        bootstrap_manifest_store(base, INVOICE, state3)
        preload_sec = round(time.perf_counter() - t0, 2)
        msgs3, _ = generate_envelopes(
            n=n_events, seed=43, truncate_every=None, key_space=key_space
        )
        walls3 = feed_chunks(
            src3,
            msgs3,
            lambda: start_replica_merge_manifest(
                read_changelog_stream(spark, src3), INVOICE, state3, ckpt3
            ).awaitTermination(),
        )
        per_batch = [
            {
                k: _read_manifest(state3, b)[k]
                for k in ("files_total", "files_touched")
            }
            for b in range(chunks)
        ]
        fracs = [
            round(p["files_touched"] / max(p["files_total"], 1), 3)
            for p in per_batch
        ]
        final3 = read_replica_manifest(spark, state3)
        # replica_exact: the manifest store must equal base ⊕ feed
        # (anti-join overlay computed independently, full 10M-row diff)
        feed_last = (
            spark.read.json([f"{src3}/c{c}.json" for c in range(chunks)])
            .selectExpr("offset", "get_json_object(value, '$.payload') AS p")
            .selectExpr(
                "offset",
                "get_json_object(p, '$.op') AS op",
                "CAST(get_json_object(p, '$.after.order_id') AS LONG) AS k_after",
                "CAST(get_json_object(p, '$.before.order_id') AS LONG) AS k_before",
                "CAST(get_json_object(p, '$.after.invoice_number') AS LONG) AS v_after",
            )
        )
        from pyspark.sql import functions as F

        last = (
            feed_last.withColumn("k", F.coalesce("k_after", "k_before"))
            .groupBy("k")
            .agg(F.max_by(F.struct("op", "v_after"), "offset").alias("x"))
            .select("k", "x.op", "x.v_after")
        )
        expected = (
            base.join(last.select(F.col("k").alias("order_id")), "order_id", "left_anti")
            .unionByName(
                last.filter("op <> 'd'").select(
                    F.col("k").alias("order_id"),
                    F.col("v_after").alias("invoice_number"),
                )
            )
        )
        mism = final3.exceptAll(expected).count() + expected.exceptAll(final3).count()
        out[leg] = {
            "preload_sec": preload_sec,
            "distinct_feed_keys": key_space,
            "files_total": per_batch[-1]["files_total"],
            "touched_file_fraction_per_batch": fracs,
            "batch_sec": walls3,
            "events_per_sec": round(n_events / sum(walls3), 1),
            "final_rows": final3.count(),
            "replica_exact": mism == 0,
        }
    out["loadavg_end"] = round(os.getloadavg()[0], 1)
    print(json.dumps(out))
    spark.stop()


def bench_scd2(n_events: int = 50_000, chunks: int = 5) -> None:
    """SCD2-history-sink throughput: the same seeded workload as the CDC
    replica leg, through start_scd2_merge. The history is a manifest
    store, so a batch rewrites the files holding a key it touches and
    carries the rest by reference. This feed's keys are uniform over
    n_events/3 keys, so every batch touches every file and rewrites the
    whole history: this leg is the sink's worst case, and the KB written
    per batch grows with the history. Verified at the end: the current
    versions must equal the sequential replay."""
    from simple_cdc_service_spark.streaming import read_replica_manifest, start_scd2_merge

    spark = get_spark("bench-scd2")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    src, state, ckpt = f"{d}/src", f"{d}/state", f"{d}/ckpt"
    os.makedirs(src)
    msgs, expected = generate_envelopes(n=n_events, seed=42, truncate_every=None,
                                        key_space=n_events // 3)
    per = len(msgs) // chunks
    load_start = os.getloadavg()[0]
    batch_secs = []
    t0 = time.perf_counter()
    for c in range(chunks):
        lo, hi = c * per, (c + 1) * per if c < chunks - 1 else len(msgs)
        with open(f"{src}/c{c}.json", "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"offset": i, "timestamp": i, "value": msgs[i]}) + "\n")
        tb = time.perf_counter()
        start_scd2_merge(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    data = f"{state}/data"
    kb_written = [
        round(sum(os.path.getsize(f"{data}/{v}/{f}") for f in os.listdir(f"{data}/{v}")
                  if f.endswith(".parquet")) / 1024, 1)
        for v in sorted(os.listdir(data), key=lambda v: int(v[1:]))
    ]
    hist = read_replica_manifest(spark, state)
    cur = {r.order_id: r.invoice_number for r in hist.filter("is_current").collect()}
    n_versions = hist.count()
    print(json.dumps({
        "metric": "scd2_stream_events_per_sec",
        "value": round(len(msgs) / wall, 1),
        "unit": "events/sec",
        "events": len(msgs),
        "history_versions": n_versions,
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        "batch_sec": batch_secs,
        "kb_written_per_batch": kb_written,
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
        "current_equals_replay": cur == expected,
    }))
    spark.stop()


def bench_multi_table(
    n_tables: int = 4,
    n_events: int = 40_000,
    chunks: int = 4,
) -> None:
    """Multi-table routing throughput (r11): ONE mixed changelog stream
    (``n_tables`` independent seeded workloads, round-robin interleaved,
    discriminated by payload.source.table) through start_multi_table_merge
    into N per-table manifest stores (each table's slice touches only the
    files its keys live in). Exactness: every table's replica must equal ITS workload's sequential
    replay."""
    import dataclasses

    from simple_cdc_service_spark.schemas import INVOICE_ROW
    from simple_cdc_service_spark.streaming import (
        read_changelog_stream,
        read_replica_manifest,
        start_multi_table_merge,
    )

    spark = get_spark("bench-multi-table")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    src, state, ckpt = f"{d}/src", f"{d}/state", f"{d}/ckpt"
    os.makedirs(src)
    per_table = n_events // n_tables
    relabeled: dict[str, tuple[list[str], dict]] = {}
    for t in range(n_tables):
        msgs, exp = generate_envelopes(
            n=per_table, seed=100 + t, truncate_every=None,
            key_space=per_table // 3,
        )
        name = f"tbl{t}"
        out = []
        for m in msgs:
            e = json.loads(m)
            e["payload"]["source"]["table"] = name
            out.append(json.dumps(e))
        relabeled[name] = (out, exp)
    interleaved = [
        m
        for tup in zip(*(v[0] for v in relabeled.values()))
        for m in tup
    ]
    tables = {
        name: (dataclasses.replace(INVOICE, name=name), INVOICE_ROW)
        for name in relabeled
    }
    per = len(interleaved) // chunks
    load_start = os.getloadavg()[0]
    batch_secs = []
    t0 = time.perf_counter()
    for c in range(chunks):
        lo = c * per
        hi = (c + 1) * per if c < chunks - 1 else len(interleaved)
        with open(f"{src}/c{c}.json", "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps(
                    {"offset": i, "timestamp": i, "value": interleaved[i]}
                ) + "\n")
        tb = time.perf_counter()
        start_multi_table_merge(
            read_changelog_stream(spark, src), tables, state, ckpt,
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    exact = True
    for name, (_, exp) in relabeled.items():
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, os.path.join(state, name)).collect()
        }
        exact = exact and got == exp
    print(json.dumps({
        "metric": "multi_table_events_per_sec_manifest",
        "value": round(len(interleaved) / wall, 1),
        "unit": "events/sec",
        "events": len(interleaved),
        "tables": n_tables,
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        "batch_sec": batch_secs,
        "replica_exact_all_tables": exact,
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


def bench_imi_index(n_vecs: int = 100_000, chunks: int = 5, dim: int = 64) -> None:
    """Streaming ANN-index maintenance throughput (r11): feed seeded
    vectors through start_imi_index_maintenance in K micro-batch cycles
    (batch 0 builds — codebook training + full layout; batches 1..K-1
    append under the frozen grid) and print vectors/sec. The claim under
    measurement is O(batch) absorption: append batch walls should stay
    FLAT while the index grows. Ends with a timed knn_imi_indexed serve
    over the final index and a physical-vs-meta row-count equality."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_cdc_service_spark.operators.similarity import knn_imi_indexed
    from simple_cdc_service_spark.streaming import start_imi_index_maintenance

    spark = get_spark("bench-imi-index")
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    src, idx, ckpt = f"{d}/src", f"{d}/idx", f"{d}/ckpt"
    os.makedirs(src)
    rng = np.random.default_rng(99)
    per = n_vecs // chunks
    load_start = os.getloadavg()[0]
    batch_secs = []
    t0 = time.perf_counter()
    for c in range(chunks):
        lo = c * per
        hi = (c + 1) * per if c < chunks - 1 else n_vecs
        vecs = rng.standard_normal((hi - lo, dim)).astype(np.float64)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(lo, hi), pa.int64()),
                    "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
                }
            ),
            f"{src}/c{c}.parquet",
        )
        tb = time.perf_counter()
        start_imi_index_maintenance(
            spark.readStream.schema("vec_id long, embedding array<double>")
            .parquet(src),
            idx, ckpt,
        ).awaitTermination()
        batch_secs.append(round(time.perf_counter() - tb, 2))
    wall = time.perf_counter() - t0
    import json as _json

    with open(f"{idx}/meta.json") as f:
        meta = _json.load(f)
    physical = spark.read.option("basePath", f"{idx}/data").parquet(
        f"{idx}/data"
    ).count()
    q_vecs = rng.standard_normal((5, dim))
    queries = spark.createDataFrame(
        [(int(1_000_000 + i), [float(x) for x in q_vecs[i]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    ts = time.perf_counter()
    served = knn_imi_indexed(spark, idx, queries, k=10).count()
    serve_sec = round(time.perf_counter() - ts, 2)
    print(json.dumps({
        "metric": "imi_index_vectors_per_sec",
        "value": round(n_vecs / wall, 1),
        "unit": "vectors/sec",
        "vectors": n_vecs,
        "micro_batches": chunks,
        "wall_sec": round(wall, 2),
        # batch 0 = build (codebook training + full layout); the append
        # batches are the flat-wall claim
        "batch_sec": batch_secs,
        "index_rows": meta["n_rows"],
        "rows_physical_equals_meta": physical == meta["n_rows"] == n_vecs,
        "committed_batches": len(meta.get("committed_batches", [])),
        "serve_sec": serve_sec,
        "served_rows": served,
        "loadavg_start": round(load_start, 1),
        "loadavg_end": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


def bench_manifest_longfeed(
    n_store: int = 1_000_000,
    n_batches: int = 200,
    events_per_batch: int = 200,
    compact_every: int = 25,
    target_rows_per_file: int = 20_000,
) -> None:
    """Long-feed manifest-store leg (r11, VERDICT r10 #5): >=200 hot-key
    micro-batches against a bootstrapped store, with periodic
    compact+vacuum (compact_every=0 disables, the A/B control). Claims
    under test: live FILE COUNT stays bounded and per-batch wall stays
    flat with compaction, where the uncompacted chain grows both. Each
    batch's hot range moves ((b*9973) % n_store) so touched files vary;
    merges run through _merge_manifest_batch directly (the same code
    foreachBatch drives) so the leg measures merge+stats dynamics, not
    stream-restart overhead. Batches that fold (manifest ``folded``) are
    reported apart from the rest: their count and median wall beside the
    non-fold median, since a fold lands once per target file's worth of
    delta rows and a mean over all batches hides both. The final replica
    is read in full (a noop write) once, the first full read in the
    process, and then three more times, warm. Ends with a full-store
    replica_exact diff against the independently computed expected
    state."""
    import tempfile as _tf

    from simple_cdc_service_spark.schemas import INVOICE_ROW
    from simple_cdc_service_spark.sources.changelog import (
        _envelope,
        envelopes_df,
        parse_envelopes,
    )
    from simple_cdc_service_spark.streaming import (
        bootstrap_manifest_store,
        compact_manifest_store,
        read_replica_manifest,
        vacuum_manifest_store,
    )
    from simple_cdc_service_spark.streaming.pipeline import (
        _latest_manifest,
        _merge_manifest_batch,
    )

    spark = get_spark("bench-manifest-longfeed")
    spark.sparkContext.setLogLevel("ERROR")
    state = _tf.mkdtemp() + "/state"
    t0 = time.perf_counter()
    base = spark.range(n_store).selectExpr(
        "id AS order_id", "id * 7 AS invoice_number"
    )
    bootstrap_manifest_store(
        base, INVOICE, state, target_rows_per_file=target_rows_per_file
    )
    preload_sec = round(time.perf_counter() - t0, 2)
    expected = {k: k * 7 for k in range(n_store)}
    walls, folded, files_over_time, compact_secs = [], [], [], []
    off = 0
    for b in range(n_batches):
        center = (b * 9973) % n_store
        msgs = []
        for j in range(events_per_batch):
            k = (center + j) % n_store
            v = b * 1_000_000 + j
            msgs.append(
                json.dumps(
                    _envelope(
                        "u",
                        {"order_id": k, "invoice_number": expected[k]},
                        {"order_id": k, "invoice_number": v},
                        off, off,
                    )
                )
            )
            expected[k] = v
            off += 1
        parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
        tb = time.perf_counter()
        _merge_manifest_batch(parsed, INVOICE, state, b, target_rows_per_file)
        walls.append(round(time.perf_counter() - tb, 3))
        latest = _latest_manifest(state)
        folded.append(latest.get("folded", False))
        files_over_time.append(len(latest["files"]))
        if compact_every and (b + 1) % compact_every == 0:
            tc = time.perf_counter()
            compact_manifest_store(
                spark, state, target_rows_per_file=target_rows_per_file
            )
            vacuum_manifest_store(state, keep=3)
            compact_secs.append(round(time.perf_counter() - tc, 2))
    read_secs = []
    for _ in range(4):
        tr = time.perf_counter()
        read_replica_manifest(spark, state).write.format("noop").mode(
            "overwrite"
        ).save()
        read_secs.append(round(time.perf_counter() - tr, 3))
    fold_walls = [w for w, f in zip(walls, folded) if f]
    plain_walls = [w for w, f in zip(walls, folded) if not f]
    final = read_replica_manifest(spark, state)
    exp_df = spark.createDataFrame(
        list(expected.items()), "order_id long, invoice_number long"
    )
    mism = final.exceptAll(exp_df).count() + exp_df.exceptAll(final).count()
    q = n_batches // 4
    print(json.dumps({
        "metric": "manifest_longfeed",
        "value": round(n_batches * events_per_batch / sum(walls), 1),
        "unit": "events/sec",
        "store_rows": n_store,
        "batches": n_batches,
        "events_per_batch": events_per_batch,
        "compact_every": compact_every,
        "target_rows_per_file": target_rows_per_file,
        "preload_sec": preload_sec,
        "files_q1_mean": round(sum(files_over_time[:q]) / q, 1),
        "files_q4_mean": round(sum(files_over_time[-q:]) / q, 1),
        "files_final": files_over_time[-1],
        "files_max": max(files_over_time),
        "wall_q1_mean": round(sum(walls[:q]) / q, 3),
        "wall_q4_mean": round(sum(walls[-q:]) / q, 3),
        "folds": len(fold_walls),
        "fold_wall_median": statistics.median(fold_walls) if fold_walls else None,
        "nonfold_wall_median": statistics.median(plain_walls) if plain_walls else None,
        "read_cold_sec": read_secs[0],
        "read_warm_sec_median": statistics.median(read_secs[1:]),
        "compact_secs": compact_secs,
        "replica_exact": mism == 0,
    }))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "admission":
        # admission [n_docs] [chunks] — e.g. the 10× batch-size point:
        #   SPARK_GRAFT_SF_DIR=/tmp/sf1 python tools/bench_streaming.py admission 50000 5
        # trailing "fused" switches on the fused collapse+probe path
        bench_admission(
            n_docs=int(sys.argv[2]) if len(sys.argv) > 2 else 5_000,
            chunks=int(sys.argv[3]) if len(sys.argv) > 3 else 5,
            fuse_probe="fused" in sys.argv[4:],
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "replica-store":
        # replica-store [store_rows] [n_events] — sf10-scale target table:
        #   python tools/bench_streaming.py replica-store 10000000 50000
        bench_replica_store_scale(
            n_store=int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000,
            n_events=int(sys.argv[3]) if len(sys.argv) > 3 else 50_000,
            # optional leg filter, e.g. "manifest_hot"
            legs=set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "admission-store":
        # admission-store [n_docs] [chunks] — 500k-doc store leg:
        #   python tools/bench_streaming.py admission-store 50000 5
        bench_admission_store_scale(
            n_docs=int(sys.argv[2]) if len(sys.argv) > 2 else 50_000,
            chunks=int(sys.argv[3]) if len(sys.argv) > 3 else 5,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "manifest-longfeed":
        # manifest-longfeed [n_batches] [compact_every] [store_rows]
        # [target_rows_per_file] — A/B the file-count bound:
        # compact_every=0 is the uncompacted control; e.g. the fold and
        # read probe on the freshness benchmark's store shape:
        #   python tools/bench_streaming.py manifest-longfeed 200 25 250000 10000
        bench_manifest_longfeed(
            n_batches=int(sys.argv[2]) if len(sys.argv) > 2 else 200,
            compact_every=int(sys.argv[3]) if len(sys.argv) > 3 else 25,
            n_store=int(sys.argv[4]) if len(sys.argv) > 4 else 1_000_000,
            target_rows_per_file=int(sys.argv[5]) if len(sys.argv) > 5 else 20_000,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "scd2":
        bench_scd2()
    elif len(sys.argv) > 1 and sys.argv[1] == "multi-table":
        # multi-table [n_tables] [n_events] — mixed-stream routing
        bench_multi_table(
            n_tables=int(sys.argv[2]) if len(sys.argv) > 2 else 4,
            n_events=int(sys.argv[3]) if len(sys.argv) > 3 else 40_000,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "imi-index":
        # imi-index [n_vecs] [chunks] — streaming ANN-index maintenance
        bench_imi_index(
            n_vecs=int(sys.argv[2]) if len(sys.argv) > 2 else 100_000,
            chunks=int(sys.argv[3]) if len(sys.argv) > 3 else 5,
        )
    else:
        main()

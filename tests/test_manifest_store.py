"""Manifest-store replica merge (r10, VERDICT r9 #3): file-level key
statistics bound per-batch I/O — the parquet-protocol stand-in for
Delta/Iceberg MERGE data-file stats, and the r9 bucketing negative's
own conclusion (key-range stats prune what the batch touches; hash
buckets spread a high-entropy batch across 100% of partitions).

The replica is merge-on-read: a batch writes one delta file, and the
copy-on-write rewrite these pins describe is the FOLD, which runs once
the live deltas hold target_rows_per_file rows. A pruning pin therefore
merges batches of at least target_rows_per_file keys."""

import json
import os

import pytest

from simple_cdc_service_spark.config import INVOICE
from simple_cdc_service_spark.sources.changelog import _envelope, generate_envelopes
from simple_cdc_service_spark.streaming import (
    bootstrap_manifest_store,
    read_changelog_stream,
    read_replica_manifest,
    start_replica_merge_manifest,
    vacuum_manifest_store,
)

from test_streaming import _write_batch  # same harness


@pytest.fixture(scope="module")
def spark():
    from simple_cdc_service_spark.session import get_spark

    return get_spark("test-manifest-store")


def _count_jobs(spark, group, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _merge_upserts(spark, state, batch_id, rows, target_rows_per_file):
    """Merge one batch upserting ``rows`` (order_id → invoice_number)
    straight into the manifest store at ``state``; returns its manifest."""
    from simple_cdc_service_spark.schemas import INVOICE_ROW
    from simple_cdc_service_spark.sources.changelog import (
        envelopes_df,
        parse_envelopes,
    )
    from simple_cdc_service_spark.streaming.pipeline import (
        _merge_manifest_batch,
        _read_manifest,
    )

    msgs = [
        json.dumps(_envelope(
            "u",
            {"order_id": key, "invoice_number": 0},
            {"order_id": key, "invoice_number": value},
            100 + k, 100 + k,
        ))
        for k, (key, value) in enumerate(rows.items())
    ]
    parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
    _merge_manifest_batch(parsed, INVOICE, state, batch_id, target_rows_per_file)
    return _read_manifest(state, batch_id)


def _replica(spark, state, **kw) -> dict:
    return {
        r.order_id: r.invoice_number
        for r in read_replica_manifest(spark, state, **kw).collect()
    }


def _merge_chunks(spark, state, chunks, target_rows_per_file, first_batch=0):
    """Merge each chunk of envelope messages as one micro-batch, batch ids
    counting from ``first_batch``."""
    from simple_cdc_service_spark.schemas import INVOICE_ROW
    from simple_cdc_service_spark.sources.changelog import (
        envelopes_df,
        parse_envelopes,
    )
    from simple_cdc_service_spark.streaming.pipeline import _merge_manifest_batch

    for b, chunk in enumerate(chunks, first_batch):
        parsed = parse_envelopes(envelopes_df(spark, chunk), INVOICE_ROW)
        _merge_manifest_batch(parsed, INVOICE, state, b, target_rows_per_file)


class TestManifestMergeCorrectness:
    def test_matches_replay_and_versioned_merge(self, spark, tmp_path):
        """Two availableNow chunks through one checkpoint: the manifest
        replica must equal the sequential replay after EACH chunk
        (replica_exact). The reference is the pure-Python oracle:
        generate_envelopes(n=prefix) with the same seed returns the exact
        state after that prefix, because its draws depend only on it."""
        msgs, expected = generate_envelopes(
            n=600, seed=3, truncate_every=250, key_space=200
        )
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")

        _write_batch(src, "part1.json", msgs[:400], 0)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt,
            target_rows_per_file=50,
        ).awaitTermination()
        first = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        _, after_400 = generate_envelopes(
            n=400, seed=3, truncate_every=250, key_space=200
        )
        assert first == after_400
        _write_batch(src, "part2.json", msgs[400:], 400)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt,
            target_rows_per_file=50,
        ).awaitTermination()
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == expected

    def test_truncate_drops_all_references(self, spark, tmp_path):
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        b1 = [
            json.dumps(_envelope("c", None, {"order_id": 1, "invoice_number": 10}, 1, 1)),
            json.dumps(_envelope("c", None, {"order_id": 2, "invoice_number": 20}, 2, 2)),
        ]
        _write_batch(src, "b1.json", b1, 0)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        assert read_replica_manifest(spark, state).count() == 2

        b2 = [
            json.dumps(_envelope("t", None, None, 3, 3)),
            json.dumps(_envelope("c", None, {"order_id": 9, "invoice_number": 90}, 4, 4)),
        ]
        _write_batch(src, "b2.json", b2, 2)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == {9: 90}

    def test_rerun_committed_batch_is_skipped(self, spark, tmp_path):
        """Crash replay: a committed manifest short-circuits the whole
        batch — no file rewritten, no manifest touched."""
        import glob

        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
        )

        state = str(tmp_path / "state")
        msgs, expected = generate_envelopes(
            n=120, seed=7, truncate_every=50, key_space=40
        )
        parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
        _merge_manifest_batch(parsed, INVOICE, state, 0, 200_000)
        snap = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(state, "**", "*"), recursive=True)
            if os.path.isfile(f)
        }
        _merge_manifest_batch(parsed, INVOICE, state, 0, 200_000)
        snap2 = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(state, "**", "*"), recursive=True)
            if os.path.isfile(f)
        }
        assert snap == snap2
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == expected


class TestManifestPruning:
    def _bootstrap(self, spark, state, n=100_000, rows_per_file=5_000):
        df = spark.range(n).selectExpr(
            "id AS order_id", "CAST(id * 7 AS int) AS invoice_number"
        )
        m = bootstrap_manifest_store(
            df, INVOICE, state, batch_id=0, target_rows_per_file=rows_per_file
        )
        assert len(m["files"]) >= 15
        return m

    def test_hot_key_batch_touches_few_files(self, spark, tmp_path):
        """100 clustered keys against a 100k-row store in 20 range files:
        the merge must read <15% of files and carry the rest BY
        REFERENCE into the new manifest."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
            _read_manifest,
        )

        state = str(tmp_path / "state")
        m0 = self._bootstrap(spark, state)
        hot = [
            json.dumps(
                _envelope(
                    "u",
                    {"order_id": 50_000 + k, "invoice_number": 0},
                    {"order_id": 50_000 + k, "invoice_number": 999_000 + k},
                    100 + k,
                    100 + k,
                )
            )
            for k in range(100)
        ]
        parsed = parse_envelopes(envelopes_df(spark, hot), INVOICE_ROW)
        _merge_manifest_batch(parsed, INVOICE, state, 1, 5_000)
        m1 = _read_manifest(state, 1)
        assert m1["files_total"] == len(m0["files"])
        assert m1["files_touched"] / m1["files_total"] < 0.15
        # untouched files carried by reference: their v0 paths survive
        v0_paths = {e["path"] for e in m0["files"]}
        v1_paths = {e["path"] for e in m1["files"]}
        assert len(v0_paths & v1_paths) == m1["files_total"] - m1["files_touched"]
        # values merged exactly
        rep = read_replica_manifest(spark, state)
        assert rep.count() == 100_000
        got = {
            r.order_id: r.invoice_number
            for r in rep.filter("order_id >= 50000 AND order_id < 50100").collect()
        }
        assert got == {50_000 + k: 999_000 + k for k in range(100)}

    def test_uniform_batch_degrades_to_flat_rewrite(self, spark, tmp_path):
        """Keys spanning the whole range touch every file: nothing can be
        carried by reference, so the rewrite is written flat — no range
        sampling job, no shuffle — and runs fewer jobs than the clustered
        rewrite of a hot batch on the same store. Still exact. Each
        batch's 400 delta rows reach target_rows_per_file=400, so both
        batches fold."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
            _read_manifest,
        )

        want = {k: k * 7 for k in range(100_000)}

        def merge(batch_id, keys):
            want.update({key: -k for k, key in enumerate(keys)})
            msgs = [
                json.dumps(
                    _envelope(
                        "u",
                        {"order_id": key, "invoice_number": 0},
                        {"order_id": key, "invoice_number": -k},
                        100 + k,
                        100 + k,
                    )
                )
                for k, key in enumerate(keys)
            ]
            parsed = parse_envelopes(envelopes_df(spark, msgs), INVOICE_ROW)
            return _count_jobs(
                spark, f"merge-{batch_id}",
                lambda: _merge_manifest_batch(parsed, INVOICE, state, batch_id, 400),
            )

        state = str(tmp_path / "state")
        self._bootstrap(spark, state)
        hot_jobs = merge(1, [50_000 + k for k in range(400)])
        m1 = _read_manifest(state, 1)
        assert 0 < m1["files_touched"] < m1["files_total"]
        flat_jobs = merge(2, [k * 997 % 100_000 for k in range(400)])
        m2 = _read_manifest(state, 2)
        assert m2["files_touched"] == m2["files_total"]
        assert flat_jobs < hot_jobs, (flat_jobs, hot_jobs)
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == want

    def test_hot_batches_after_a_flat_write_prune_again(self, spark, tmp_path):
        """No compaction: a uniform batch is written flat and leaves files
        whose ranges overlap. The next hot batch touches them, so it is
        range-written and re-clusters them; the hot batches after it touch
        < 15% of the files again, and the replica equals the replay. At
        target_rows_per_file=100 every batch (100 or 400 keys) folds."""
        state = str(tmp_path / "state")
        self._bootstrap(spark, state)
        want = {k: k * 7 for k in range(100_000)}

        def merge(batch_id, keys):
            rows = {key: batch_id * 1_000_000 + k for k, key in enumerate(keys)}
            want.update(rows)
            return _merge_upserts(spark, state, batch_id, rows, 100)

        flat = merge(1, [k * 997 % 100_000 for k in range(400)])
        assert flat["files_touched"] == flat["files_total"]
        hot = [60_000 + k for k in range(100)]
        # The flat files are sized by the scan splits, so how many of them
        # span the hot range depends on how the base files were packed;
        # the expectation comes from the ranges the flat write recorded.
        spanning = sum(
            not e["exact"] or any(e["min"] <= k <= e["max"] for k in hot)
            for e in flat["files"]
        )
        recluster = merge(2, hot)
        assert recluster["files_touched"] == spanning
        for batch_id in (3, 4):
            m = merge(batch_id, hot)
            assert m["files_touched"] / m["files_total"] < 0.15, m["files_touched"]
        assert _replica(spark, state) == want

    def test_store_grown_from_empty_splits_and_clusters(self, spark, tmp_path):
        """No bootstrap, no compaction: batches whose keys interleave with
        every file grow the store from empty to 20x target_rows_per_file.
        It still splits into clustered files (a flat write's files are
        sized by the scan splits, but the next touching batch range-writes
        them), so hot batches afterwards touch < 15% of them, and the
        replica equals the replay. Every batch folds: 2,000 or 500 keys
        against target_rows_per_file=500."""
        state = str(tmp_path / "state")
        want = {}

        def merge(batch_id, keys):
            rows = {key: batch_id * 1_000_000 + k for k, key in enumerate(keys)}
            want.update(rows)
            return _merge_upserts(spark, state, batch_id, rows, 500)

        for batch_id in range(10):
            merge(batch_id, list(range(batch_id, 20_000, 10)))
        for batch_id in (10, 11, 12):
            m = merge(batch_id, [10_000 + k for k in range(500)])
        assert m["files_total"] >= 15
        assert m["files_touched"] / m["files_total"] < 0.15, m["files_touched"]
        assert _replica(spark, state) == want

    def test_deletes_erase_and_vacuum_reclaims(self, spark, tmp_path):
        """The 500 deletes reach target_rows_per_file=500, so the batch
        folds and supersedes the files holding the deleted keys."""
        from simple_cdc_service_spark.schemas import INVOICE_ROW
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
        )

        state = str(tmp_path / "state")
        self._bootstrap(spark, state, n=20_000, rows_per_file=1_000)
        dels = [
            json.dumps(
                _envelope(
                    "d", {"order_id": k, "invoice_number": 0}, None, 100 + k, 100 + k
                )
            )
            for k in range(500)
        ]
        parsed = parse_envelopes(envelopes_df(spark, dels), INVOICE_ROW)
        _merge_manifest_batch(parsed, INVOICE, state, 1, 500)
        rep = read_replica_manifest(spark, state)
        assert rep.count() == 19_500
        assert rep.filter("order_id < 500").count() == 0
        # vacuum with keep=1: v0 manifest dropped, its superseded data
        # files (the touched ones) deleted, the current state unharmed
        deleted = vacuum_manifest_store(state, keep=1)
        assert deleted, "superseded files should be reclaimed"
        assert read_replica_manifest(spark, state).count() == 19_500


class TestMergeOnRead:
    """A batch appends one delta file to the manifest; the fold writes
    the deltas into the base files once they hold target_rows_per_file
    rows. Readers, vacuum, compaction and crash replay see the deltas."""

    @staticmethod
    def _want(n, **kw):
        return generate_envelopes(n=n, **kw)[1]

    def test_vacuum_keeps_live_deltas(self, spark, tmp_path):
        """Batch 1 folds, batches 2 and 3 leave live deltas. Vacuum
        (keep=2) reclaims the folded deltas but not the live ones: the
        replica and both retained version= reads equal the replay. The
        history reports the deltas and the fold from the manifests."""
        from simple_cdc_service_spark.streaming import manifest_store_history
        from simple_cdc_service_spark.streaming.pipeline import _read_manifest

        feed = dict(seed=17, truncate_every=None, key_space=300)
        msgs, _ = generate_envelopes(n=300, **feed)
        state = str(tmp_path / "state")
        _merge_chunks(
            spark, state, [msgs[:100], msgs[100:200], msgs[200:250], msgs[250:]], 150
        )
        hist = {h["version"]: h for h in manifest_store_history(state)}
        assert [hist[v]["folded"] for v in range(4)] == [False, True, False, False]
        assert hist[1]["n_deltas"] == 0 and hist[1]["files_touched"] == 0
        assert hist[3]["n_deltas"] >= 2 and hist[3]["files_touched"] == 0
        assert 0 < hist[3]["delta_rows"] < 150
        assert hist[3]["total_rows"] == hist[1]["total_rows"]  # base files only

        live = {
            e["path"]
            for v in (2, 3)
            for e in _read_manifest(state, v)["deltas"]
        }
        deleted = vacuum_manifest_store(state, keep=2)
        assert deleted, "the folded deltas should be reclaimed"
        assert live and not live & set(deleted)
        assert _replica(spark, state) == self._want(300, **feed)
        for v, prefix in ((2, 250), (3, 300)):
            assert _replica(spark, state, version=v) == self._want(prefix, **feed)

    def test_compaction_carries_live_deltas(self, spark, tmp_path):
        """Compaction re-clusters the base files and carries the live
        deltas by reference: the deltas list is unchanged, and so is the
        replica, which differs from its base files alone."""
        from simple_cdc_service_spark.streaming import compact_manifest_store
        from simple_cdc_service_spark.streaming.pipeline import _latest_manifest

        feed = dict(seed=19, truncate_every=None, key_space=200)
        msgs, want = generate_envelopes(n=400, **feed)
        state = str(tmp_path / "state")
        # a delta counts events, so the second chunk stays below the
        # target of 100 and stays live
        _merge_chunks(spark, state, [msgs[:310], msgs[310:]], 100)
        before = _latest_manifest(state)
        assert before["deltas"] and before["files"]
        assert _replica(spark, state) == want
        base_only = {
            r.order_id: r.invoice_number
            for r in spark.read.parquet(
                *[os.path.join(state, e["path"]) for e in before["files"]]
            ).collect()
        }
        assert base_only != want

        after = compact_manifest_store(spark, state, target_rows_per_file=5_000, min_files=2)
        assert after is not None
        assert after["deltas"] == before["deltas"]
        assert len(after["files"]) < len(before["files"])
        assert _replica(spark, state) == want

    def test_in_batch_binlog_order_survives_resolve_and_fold(self, spark, tmp_path):
        """Batch 1 holds two updates of key 1, and an update and a
        PK-changing update of key 2, each pair in the reverse of its
        binlog order by Kafka offset. The replica equals the binlog-order
        replay while batch 1 is a live delta, and after a later batch
        folds it."""
        from simple_cdc_service_spark.streaming.pipeline import _read_manifest

        def row(kv):
            return kv and {"order_id": kv[0], "invoice_number": kv[1]}

        def env(op, before, after, pos):
            msg = json.dumps(_envelope(op, row(before), row(after), pos, pos))
            return pos, before, after, msg

        batches = [
            [env("c", None, (k, k * 10), 100 + k) for k in (1, 2, 3)],
            [
                env("u", (1, 10), (1, 99), 300),
                env("u", (1, 10), (1, 55), 200),
                env("u", (2, 12), (20, 21), 250),  # PK change: 2 → 20
                env("u", (20, 21), (20, 77), 400),
                env("u", (2, 20), (2, 12), 210),
            ],
            [env("c", None, (4, 40), 500)],
        ]

        def replay(events):
            state = {}
            for _, before, after, _ in sorted(events):
                if before and (after is None or before[0] != after[0]):
                    state.pop(before[0], None)
                if after:
                    state[after[0]] = after[1]
            return state

        state = str(tmp_path / "state")
        msgs = [[e[3] for e in b] for b in batches]
        _merge_chunks(spark, state, msgs[:2], 1_000)
        assert not _read_manifest(state, 1).get("folded")
        assert _replica(spark, state) == replay(batches[0] + batches[1])
        assert _replica(spark, state) == {1: 99, 3: 30, 20: 77}
        _merge_chunks(spark, state, msgs[2:], 1, first_batch=2)
        assert _read_manifest(state, 2)["folded"]
        assert _replica(spark, state) == replay([e for b in batches for e in b])

    def _crash_once(self, monkeypatch):
        from simple_cdc_service_spark.streaming import pipeline

        commit = pipeline._commit_manifest
        crashed = []

        def crash_once(state_dir, version, manifest):
            if not crashed:
                crashed.append(manifest)
                raise RuntimeError("killed before the commit")
            commit(state_dir, version, manifest)

        monkeypatch.setattr(pipeline, "_commit_manifest", crash_once)
        return crashed

    @pytest.mark.parametrize("target, folded, written", [
        (1_000, False, "v1"),  # killed after the delta write
        (30, True, "f1"),  # killed after the fold's files are written
    ])
    def test_commit_crash_then_rerun_equals_replay(
        self, spark, tmp_path, monkeypatch, target, folded, written
    ):
        """Kill batch 1 between its data writes and its manifest commit,
        then rerun the same batch id and the next one: every committed
        version reads as the sequential replay of its prefix."""
        from simple_cdc_service_spark.streaming.pipeline import _manifest_versions

        feed = dict(seed=23, truncate_every=140, key_space=50)
        msgs, want = generate_envelopes(n=300, **feed)
        chunks = [msgs[:100], msgs[100:200], msgs[200:]]
        state = str(tmp_path / "state")
        _merge_chunks(spark, state, chunks[:1], target)
        crashed = self._crash_once(monkeypatch)
        with pytest.raises(RuntimeError, match="killed"):
            _merge_chunks(spark, state, chunks[1:2], target, first_batch=1)
        assert [m.get("folded", False) for m in crashed] == [folded]
        assert os.listdir(os.path.join(state, "data", written))
        assert _manifest_versions(state) == [0]

        _merge_chunks(spark, state, chunks[1:], target, first_batch=1)
        assert _replica(spark, state) == want
        for v, prefix in ((0, 100), (1, 200)):
            assert _replica(spark, state, version=v) == self._want(prefix, **feed)


class TestAdviceR10Fixes:
    """Regression pins for the ADVICE r10 findings: bootstrap/stream
    batch-id collision (medium), widest-schema manifest invariant, and
    vacuum vs in-flight batch output."""

    def test_bootstrap_then_stream_keeps_first_microbatch(self, spark, tmp_path):
        """The medium finding: bootstrap_manifest_store at its DEFAULT
        version then stream with a FRESH checkpoint — micro-batch 0 must
        be merged, not silently dropped as 'already committed'."""
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        base = spark.range(100).selectExpr(
            "id AS order_id", "id * 7 AS invoice_number"
        )
        m = bootstrap_manifest_store(base, INVOICE, state)
        assert m["batch_id"] == -1  # reserved, below any stream batch id
        b0 = [
            json.dumps(
                _envelope(
                    "u",
                    {"order_id": 5, "invoice_number": 35},
                    {"order_id": 5, "invoice_number": 999},
                    1, 1,
                )
            ),
            json.dumps(
                _envelope("c", None, {"order_id": 200, "invoice_number": 42}, 2, 2)
            ),
        ]
        _write_batch(src, "b0.json", b0, 0)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt
        ).awaitTermination()
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got[5] == 999, "micro-batch 0 upsert lost (batch-id collision)"
        assert got[200] == 42
        assert len(got) == 101

    def test_manifest_schema_stays_widest_when_nothing_touched(self, spark, tmp_path):
        """A batch whose keys prune EVERY prior file must not narrow the
        recorded schema below the previous manifest's (here: bootstrap
        wrote bigint, the batch's rows parse as int)."""
        from pyspark.sql import types as T

        from simple_cdc_service_spark.config import ChangeTableConfig
        from simple_cdc_service_spark.schemas import row_schema
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )
        from simple_cdc_service_spark.streaming.pipeline import (
            _latest_manifest,
            _merge_manifest_batch,
        )

        state = str(tmp_path / "state")
        cfg = ChangeTableConfig(
            name="narrow", key_columns=("order_id",),
            value_columns=("invoice_number",),
        )
        narrow_row = row_schema(
            {"order_id": T.LongType(), "invoice_number": T.IntegerType()}
        )
        base = spark.range(50).selectExpr(
            "id AS order_id", "id * 7 AS invoice_number"  # bigint value col
        )
        bootstrap_manifest_store(base, cfg, state)
        # keys far outside [0, 49]: every bootstrap file is pruned,
        # touched == [] and new_rows is ONLY the int-typed upserts
        batch = [
            json.dumps(
                _envelope("c", None, {"order_id": 10_000, "invoice_number": 1}, 1, 1)
            )
        ]
        parsed = parse_envelopes(envelopes_df(spark, batch), narrow_row)
        _merge_manifest_batch(parsed, cfg, state, 0, 200_000)
        ddl = _latest_manifest(state)["schema_ddl"]
        assert "bigint" in ddl and "invoice_number` int" not in ddl, ddl
        rep = read_replica_manifest(spark, state)
        assert rep.count() == 51
        assert rep.schema["invoice_number"].dataType.simpleString() == "bigint"

    def test_vacuum_spares_inflight_uncommitted_files(self, spark, tmp_path):
        """Data files of a version NEWER than the latest committed
        manifest are an in-flight batch's pre-commit output — vacuum
        must not delete them (ADVICE r10)."""
        state = str(tmp_path / "state")
        base = spark.range(1000).selectExpr(
            "id AS order_id", "id * 7 AS invoice_number"
        )
        bootstrap_manifest_store(base, INVOICE, state, target_rows_per_file=100)
        # simulate an in-flight merge: files written, manifest not yet
        # renamed into place
        inflight = os.path.join(state, "data", "v0")
        os.makedirs(inflight)
        with open(os.path.join(inflight, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1stub")
        deleted = vacuum_manifest_store(state, keep=1)
        assert deleted == []
        assert os.path.exists(os.path.join(inflight, "part-00000.parquet"))


class TestManifestCompaction:
    """compact_manifest_store (r11, VERDICT r10 #5): folds small files
    into target-sized range files by atomically rewriting the latest
    manifest; content bit-identical, versions untouched, superseded
    files reclaimable by vacuum."""

    def _feed(self, spark, src, state, ckpt, msgs, name, off):
        _write_batch(src, name, msgs, off)
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), INVOICE, state, ckpt,
            target_rows_per_file=50,
        ).awaitTermination()

    def test_compaction_preserves_content_and_bounds_files(self, spark, tmp_path):
        from simple_cdc_service_spark.streaming import compact_manifest_store
        from simple_cdc_service_spark.streaming.pipeline import (
            _latest_manifest,
            _manifest_versions,
        )

        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        msgs, expected = generate_envelopes(
            n=600, seed=5, truncate_every=None, key_space=300
        )
        # three micro-batches of small files (target 50 rows/file)
        self._feed(spark, src, state, ckpt, msgs[:200], "b0.json", 0)
        self._feed(spark, src, state, ckpt, msgs[200:400], "b1.json", 200)
        self._feed(spark, src, state, ckpt, msgs[400:], "b2.json", 400)
        before = read_replica_manifest(spark, state)
        rows_before = {
            r.order_id: r.invoice_number for r in before.collect()
        }
        assert rows_before == expected
        m_before = _latest_manifest(state)
        versions_before = _manifest_versions(state)

        m_after = compact_manifest_store(
            spark, state, target_rows_per_file=50_000, min_files=2
        )
        assert m_after is not None
        # fewer files, same version chain, identical content
        assert len(m_after["files"]) < len(m_before["files"])
        assert m_after["total_rows"] == m_before["total_rows"]
        assert _manifest_versions(state) == versions_before
        rows_after = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert rows_after == rows_before

        # vacuum reclaims the superseded small files, content unharmed
        deleted = vacuum_manifest_store(state, keep=1)
        assert deleted
        rows_vac = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert rows_vac == rows_before

    def test_stream_continues_after_compaction(self, spark, tmp_path):
        """Replay equality across a compaction: the next micro-batch
        merges against the compacted manifest; final state equals the
        never-compacted replay of the same feed."""
        from simple_cdc_service_spark.streaming import compact_manifest_store

        msgs, expected = generate_envelopes(
            n=400, seed=9, truncate_every=None, key_space=150
        )
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._feed(spark, src, state, ckpt, msgs[:200], "b0.json", 0)
        assert compact_manifest_store(
            spark, state, target_rows_per_file=50_000, min_files=2
        ) is not None
        self._feed(spark, src, state, ckpt, msgs[200:], "b1.json", 200)
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == expected

        # reference replay without compaction
        src2, state2, ckpt2 = (
            str(tmp_path / "src2"), str(tmp_path / "state2"), str(tmp_path / "ckpt2")
        )
        self._feed(spark, src2, state2, ckpt2, msgs[:200], "b0.json", 0)
        self._feed(spark, src2, state2, ckpt2, msgs[200:], "b1.json", 200)
        ref = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state2).collect()
        }
        assert got == ref

    def test_compaction_reclusters_flat_rewrite(self, spark, tmp_path):
        """A uniform batch is written flat, leaving files whose key ranges
        overlap, so every later batch would touch them. Compaction
        re-clusters overlapping files even below min_files: afterwards a
        hot batch touches < 15% of the files again, and the replica still
        equals the replay. Both merges fold: their 400 and 100 keys reach
        target_rows_per_file=100."""
        from simple_cdc_service_spark.streaming import compact_manifest_store

        state = str(tmp_path / "state")
        want = {k: k * 7 for k in range(100_000)}
        bootstrap_manifest_store(
            spark.range(100_000).selectExpr(
                "id AS order_id", "CAST(id * 7 AS int) AS invoice_number"
            ),
            INVOICE, state, batch_id=0, target_rows_per_file=5_000,
        )

        def merge(batch_id, keys):
            rows = {key: batch_id * 1_000_000 + k for k, key in enumerate(keys)}
            want.update(rows)
            return _merge_upserts(spark, state, batch_id, rows, 100)

        m1 = merge(1, [k * 997 % 100_000 for k in range(400)])
        assert m1["files_touched"] == m1["files_total"]
        compacted = compact_manifest_store(spark, state, target_rows_per_file=5_000)
        assert compacted is not None
        spans = sorted((e["min"], e["max"]) for e in compacted["files"])
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
        m2 = merge(2, [60_000 + k for k in range(100)])
        assert m2["files_touched"] / m2["files_total"] < 0.15
        assert _replica(spark, state) == want

    def test_compaction_reclusters_range_write_overlap(self, spark, tmp_path):
        """A range write can overlap too: a batch with a key inside a
        touched file's range and one in a gap past an untouched file
        writes a new file spanning the untouched one. Compaction
        re-clusters that overlap even below min_files, and rereads only
        the overlapping and small files: the files clear of it are
        carried by reference. The batch upserts every key of the first
        file and a key in the gap, and merges at a target_rows_per_file
        of its own row count, so it folds."""
        from simple_cdc_service_spark.streaming import compact_manifest_store
        from simple_cdc_service_spark.streaming.pipeline import _overlapping

        state = str(tmp_path / "state")
        keys = [*range(1_000), *range(2_000, 3_000)]
        want = {k: k * 7 for k in keys}
        boot = bootstrap_manifest_store(
            spark.createDataFrame(
                [(k, k * 7) for k in keys], "order_id long, invoice_number int"
            ),
            INVOICE, state, batch_id=0, target_rows_per_file=500,
        )
        assert not _overlapping(boot["files"])
        lo, hi = min((e["min"], e["max"]) for e in boot["files"])
        batch = {**{k: -1 for k in range(lo, hi + 1)}, 1_500: -2}
        want.update(batch)
        m = _merge_upserts(spark, state, 1, batch, len(batch))
        assert 0 < m["files_touched"] < m["files_total"]
        assert _overlapping(m["files"])
        clear = sorted(e["path"] for e in boot["files"] if e["min"] >= 2_000)
        compacted = compact_manifest_store(spark, state, target_rows_per_file=500)
        assert compacted is not None
        assert not _overlapping(compacted["files"])
        assert set(clear) <= {e["path"] for e in compacted["files"]}
        assert compacted["compacted_from"] < len(m["files"])
        assert _replica(spark, state) == want

    def test_overlap_sweep(self):
        """_overlapping finds every file whose exact range meets another's,
        including a range contained in an earlier, wider one; inexact
        stats never count as overlapping."""
        from simple_cdc_service_spark.streaming.pipeline import _overlapping

        def entry(lo, hi, exact=True):
            return {"min": lo, "max": hi, "exact": exact}

        files = [
            entry(0, 100), entry(10, 20), entry(30, 40),  # inside a wide one
            entry(200, 210), entry(210, 220),  # shared endpoint
            entry(300, 310), entry(320, 330),  # disjoint
            entry(None, None, exact=False),
        ]
        got = _overlapping(files)
        assert got == {id(e) for e in files[:5]}
        assert not _overlapping(files[5:])

    def test_noop_below_min_files(self, spark, tmp_path):
        from simple_cdc_service_spark.streaming import compact_manifest_store

        state = str(tmp_path / "state")
        base = spark.range(100).selectExpr(
            "id AS order_id", "id * 7 AS invoice_number"
        )
        bootstrap_manifest_store(base, INVOICE, state)  # one file
        assert compact_manifest_store(spark, state, min_files=8) is None


class TestTimeTravel:
    def _feed(self, spark, tmp_path, chunks, **kw):
        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        pos = 0
        for i, chunk in enumerate(chunks):
            _write_batch(src, f"part{i}.json", chunk, pos)
            pos += len(chunk)
            start_replica_merge_manifest(
                read_changelog_stream(spark, src), INVOICE, state, ckpt, **kw
            ).awaitTermination()
        return state

    def test_version_read_matches_versioned_replay(self, spark, tmp_path):
        """r11 time travel: read_replica_manifest(version=v) equals the
        sequential replay of the feed up to batch v at EVERY committed
        version — the Delta VERSION AS OF contract, pinned against the
        pure-Python oracle (generate_envelopes over that prefix, same
        seed), independent of Spark."""
        from simple_cdc_service_spark.streaming import manifest_store_history

        msgs, _ = generate_envelopes(
            n=600, seed=11, truncate_every=250, key_space=150
        )
        chunks = [msgs[:200], msgs[200:450], msgs[450:]]
        state = self._feed(spark, tmp_path, chunks, target_rows_per_file=40)

        hist = manifest_store_history(state)
        versions = [h["version"] for h in hist]
        assert versions == [0, 1, 2]
        for v, prefix in zip(versions, (200, 450, 600)):
            got = {
                r.order_id: r.invoice_number
                for r in read_replica_manifest(spark, state, version=v).collect()
            }
            _, want = generate_envelopes(
                n=prefix, seed=11, truncate_every=250, key_space=150
            )
            assert got == want, f"version {v} diverges"
        # history stats are internally consistent with the reads
        for h, v in zip(hist, versions):
            assert h["total_rows"] == read_replica_manifest(
                spark, state, version=v
            ).count()

        with pytest.raises(ValueError):
            read_replica_manifest(spark, state, before=1, version=1)
        with pytest.raises(KeyError):
            read_replica_manifest(spark, state, version=99)

    def test_travel_survives_compaction_vacuum_sets_horizon(
        self, spark, tmp_path
    ):
        """Compaction rewrites only the LATEST manifest, so prior
        versions keep reading identically; vacuum(keep=k) is the travel
        horizon — dropped versions raise KeyError, retained ones still
        read (their files were kept live by the retained manifests)."""
        from simple_cdc_service_spark.streaming import (
            compact_manifest_store,
            manifest_store_history,
        )

        msgs, _ = generate_envelopes(n=600, seed=13, key_space=120)
        chunks = [msgs[:200], msgs[200:400], msgs[400:]]
        state = self._feed(spark, tmp_path, chunks, target_rows_per_file=30)

        before = {
            v: {
                r.order_id: r.invoice_number
                for r in read_replica_manifest(spark, state, version=v).collect()
            }
            for v in (0, 1, 2)
        }
        assert compact_manifest_store(
            spark, state, target_rows_per_file=30_000, min_files=2
        ) is not None
        for v in (0, 1, 2):
            after = {
                r.order_id: r.invoice_number
                for r in read_replica_manifest(spark, state, version=v).collect()
            }
            assert after == before[v], f"compaction changed version {v}"
        assert "compacted_from" in manifest_store_history(state)[-1]

        vacuum_manifest_store(state, keep=2)
        with pytest.raises(KeyError):
            read_replica_manifest(spark, state, version=0)
        for v in (1, 2):
            kept = {
                r.order_id: r.invoice_number
                for r in read_replica_manifest(spark, state, version=v).collect()
            }
            assert kept == before[v], f"vacuum broke retained version {v}"


class TestMultiTableManifest:
    def test_two_tables_one_stream_manifest_store(self, spark, tmp_path):
        """r11: start_multi_table_merge routes each table's slice through
        the key-stats manifest merge — one stream, N pruned stores, each
        with its own key."""
        import json as _json

        from pyspark.sql import types as T

        from simple_cdc_service_spark.config import ChangeTableConfig
        from simple_cdc_service_spark.schemas import INVOICE_ROW, row_schema
        from simple_cdc_service_spark.streaming.pipeline import (
            _latest_manifest,
            start_multi_table_merge,
        )

        def env(table, op, before, after, pos):
            return _json.dumps(
                {"payload": {"before": before, "after": after, "op": op,
                             "ts_ms": pos,
                             "source": {"table": table, "file": "b.1",
                                        "pos": pos, "row": 0}}}
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
        tables = {
            "invoice": (INVOICE, INVOICE_ROW),
            "product": (PRODUCT, PRODUCT_ROW),
        }
        start_multi_table_merge(
            read_changelog_stream(spark, src), tables,
            str(tmp_path / "state"), str(tmp_path / "ckpt"),
        ).awaitTermination()

        inv_state = str(tmp_path / "state" / "invoice")
        prod_state = str(tmp_path / "state" / "product")
        inv = {r.order_id: r.invoice_number
               for r in read_replica_manifest(spark, inv_state).collect()}
        prod = {r.sku: r.price
                for r in read_replica_manifest(spark, prod_state).collect()}
        assert inv == {1: 11}
        assert prod == {8: 42}
        # each table commits its OWN manifest chain with its own key
        assert _latest_manifest(inv_state)["key"] == "order_id"
        assert _latest_manifest(prod_state)["key"] == "sku"


class TestOnePassCollapse:
    """A micro-batch is parsed and derived ONCE, its changelog rows are
    written as its delta, and nothing a batch materializes outlives it."""

    @staticmethod
    def _parsed(spark, msgs):
        from simple_cdc_service_spark.sources.changelog import (
            envelopes_df,
            parse_envelopes,
        )

        return parse_envelopes(envelopes_df(spark, msgs))

    def test_hot_batch_runs_at_most_seven_jobs(self, spark, tmp_path):
        """One non-truncate batch on a bootstrapped store: the collapse
        (2 jobs), its probe collect (1) and the pruned rewrite. Before the
        one-pass collapse the same batch ran 16 jobs, because every read
        of the batch re-ran the derivation and its truncate broadcast."""
        from simple_cdc_service_spark.streaming.pipeline import _merge_manifest_batch

        state = str(tmp_path / "state")
        bootstrap_manifest_store(
            spark.range(20_000).selectExpr("id AS order_id", "id * 7 AS invoice_number"),
            INVOICE, state, target_rows_per_file=1_000,
        )
        msgs = [
            json.dumps(_envelope(
                "u",
                {"order_id": 5_000 + k % 150, "invoice_number": 0},
                {"order_id": 5_000 + k % 150, "invoice_number": k},
                100 + k, 100 + k,
            ))
            for k in range(400)
        ]
        parsed = self._parsed(spark, msgs)
        jobs = _count_jobs(
            spark, "one-pass-collapse",
            lambda: _merge_manifest_batch(parsed, INVOICE, state, 0, 1_000),
        )
        assert 0 < jobs <= 7, jobs
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state)
            .filter("order_id BETWEEN 5000 AND 5149").collect()
        }
        # key 5000+j last written by the largest k < 400 with k % 150 == j
        assert got == {5_000 + j: max(range(j, 400, 150)) for j in range(150)}

    def test_non_fold_hot_batch_runs_one_job(self, spark, tmp_path):
        """The same hot batch below target_rows_per_file does not fold: it
        only writes its 400 events, uncollapsed, as its delta — one
        map-only job. The driver reads emptiness and the truncate from
        the delta file, with no job, and the resolver picks each key's
        last event."""
        from simple_cdc_service_spark.streaming.pipeline import (
            _merge_manifest_batch,
            _read_manifest,
        )

        state = str(tmp_path / "state")
        bootstrap_manifest_store(
            spark.range(20_000).selectExpr("id AS order_id", "id * 7 AS invoice_number"),
            INVOICE, state, target_rows_per_file=1_000,
        )
        msgs = [
            json.dumps(_envelope(
                "u",
                {"order_id": 5_000 + k % 150, "invoice_number": 0},
                {"order_id": 5_000 + k % 150, "invoice_number": k},
                100 + k, 100 + k,
            ))
            for k in range(400)
        ]
        parsed = self._parsed(spark, msgs)
        jobs = _count_jobs(
            spark, "delta-only-batch",
            lambda: _merge_manifest_batch(parsed, INVOICE, state, 0, 1_000),
        )
        m = _read_manifest(state, 0)
        assert not m.get("folded") and m["files_touched"] == 0
        assert sum(e["rows"] for e in m["deltas"]) == 400
        assert jobs == 1, jobs
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state)
            .filter("order_id BETWEEN 5000 AND 5149").collect()
        }
        assert got == {5_000 + j: max(range(j, 400, 150)) for j in range(150)}

    def test_fifty_batches_hold_no_blocks(self, spark, tmp_path):
        """50 small batches, truncates among them: the RDD blocks held by
        the block manager do not grow, so materialized batches do not
        leak."""
        from simple_cdc_service_spark.streaming.pipeline import _merge_manifest_batch

        def rdd_blocks():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return sum(i.numCachedPartitions() for i in infos)

        msgs, expected = generate_envelopes(
            n=500, seed=5, truncate_every=37, key_space=60
        )
        state = str(tmp_path / "state")
        before = rdd_blocks()
        for b in range(50):
            chunk = msgs[b * 10:(b + 1) * 10]
            _merge_manifest_batch(self._parsed(spark, chunk), INVOICE, state, b, 1_000)
            assert rdd_blocks() <= before, f"blocks leaked after batch {b}"
        got = {
            r.order_id: r.invoice_number
            for r in read_replica_manifest(spark, state).collect()
        }
        assert got == expected

"""Round-8 regression tests: the two ADVICE r7 findings (NULL-block
parity and embedded-separator key collisions on the factorized text
paths) plus the decision-cache session-identity guard (VERDICT r7 #5)."""

import pytest


def _pairs(df):
    return sorted((r.doc_id_a, r.doc_id_b, r.jaccard) for r in df.collect())


def _clusters(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


class TestFactorizedTextNullBlocks:
    """ADVICE r7 (medium): the factorized group key in
    prefix_jaccard_pairs / ngram_jaccard_clusters used concat_ws, which
    SKIPS NULL block values — NULL-block docs with identical word sets
    grouped together and emitted jaccard-1.0 pairs (or cluster labels)
    that the direct path's blk == blk_b equi-join and the DuckDB
    oracle's a.source = b.source never produce."""

    # two identical docs in a NULL block (would pair if NULL blocks were
    # grouped), plus a real block with a genuine clone pair
    ROWS = [
        (1, None, "alpha beta gamma delta epsilon zeta"),
        (2, None, "alpha beta gamma delta epsilon zeta"),
        (3, "web", "storage engines compact sorted runs nightly"),
        (4, "web", "storage engines compact sorted runs nightly"),
        (5, "web", "completely unrelated text about gardens and rain"),
    ]
    SCHEMA = "doc_id long, source string, text string"

    def test_prefix_pairs_null_block_parity(self, spark):
        from simple_cdc_service_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        fact = _pairs(prefix_jaccard_pairs(df, threshold=0.9, factorize=True))
        direct = _pairs(prefix_jaccard_pairs(df, threshold=0.9, factorize=False))
        assert fact == direct == [(3, 4, 1.0)]

    def test_clusters_null_block_parity(self, spark):
        from simple_cdc_service_spark.operators.dedup import ngram_jaccard_clusters

        df = spark.createDataFrame(self.ROWS, self.SCHEMA)
        fact = _clusters(ngram_jaccard_clusters(df, threshold=0.9, factorize=True))
        direct = _clusters(ngram_jaccard_clusters(df, threshold=0.9, factorize=False))
        assert fact == direct == [(3, 3), (4, 3)]

    def test_all_null_blocks_empty(self, spark):
        from simple_cdc_service_spark.operators.dedup import (
            ngram_jaccard_clusters,
            prefix_jaccard_pairs,
        )

        df = spark.createDataFrame(self.ROWS[:2], self.SCHEMA)
        assert prefix_jaccard_pairs(df, factorize=True).count() == 0
        assert ngram_jaccard_clusters(df, factorize=True).count() == 0


class TestExactSetKeyInjective:
    """ADVICE r7 (low): a bare chr(0)-joined set key aliases distinct
    sets whose tokens embed the separator — {'a\\x00b'} vs {'a','b'}
    hashed identically and produced false jaccard-1.0 pairs on the
    factorized path only. The key now length-prefixes tokens, making the
    encoding injective."""

    def test_embedded_separator_sets_do_not_collide(self, spark):
        from simple_cdc_service_spark.operators.dedup import prefix_jaccard_pairs

        rows = [
            (1, "b", "a\x00b"),  # one token containing the separator
            (2, "b", "a b"),  # two tokens {'a','b'}
            (3, "b", "a\x00b"),  # true clone of doc 1
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        fact = _pairs(prefix_jaccard_pairs(df, threshold=0.9, factorize=True))
        direct = _pairs(prefix_jaccard_pairs(df, threshold=0.9, factorize=False))
        assert fact == direct == [(1, 3, 1.0)]

    def test_minhash_factorized_separator_parity(self, spark):
        from simple_cdc_service_spark.operators.dedup import minhash_dedup_pairs

        rows = [
            (1, "x\x00y z"),
            (2, "x y\x00z"),  # same chr(0)-concat, different set
            (3, "x\x00y z"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fact = {
            (r.doc_id_a, r.doc_id_b)
            for r in minhash_dedup_pairs(df, n=1, factorize=True).collect()
        }
        # only the true clone pair survives the exact-jaccard verify on
        # the direct path; the factorized path must agree
        direct = {
            (r.doc_id_a, r.doc_id_b)
            for r in minhash_dedup_pairs(df, n=1, factorize=False).collect()
        }
        assert (1, 3) in fact
        assert (1, 2) not in fact and (2, 3) not in fact
        assert fact == direct

    def test_cluster_separator_parity(self, spark):
        from simple_cdc_service_spark.operators.dedup import ngram_jaccard_clusters

        rows = [
            (1, "b", "a\x00b"),
            (2, "b", "a b"),
            (3, "b", "a\x00b"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        fact = _clusters(ngram_jaccard_clusters(df, threshold=0.9, factorize=True))
        direct = _clusters(ngram_jaccard_clusters(df, threshold=0.9, factorize=False))
        assert fact == direct == [(1, 1), (3, 1)]


class TestSimhashMultisetFactorization:
    """VERDICT r7 #3: simhash bits computed once per distinct word
    MULTISET on clone-heavy corpora (the fingerprint is a pure function
    of the multiset). The contract is exact output parity with the
    direct map-only path."""

    def _run(self, spark, rows, factorize):
        from simple_cdc_service_spark.operators.text import simhash_docs

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return dict(
            (r.doc_id, r.simhash)
            for r in simhash_docs(df, factorize=factorize).collect()
        )

    def test_clone_corpus_parity_and_sharing(self, spark):
        rows = (
            [(i, "alpha beta gamma delta epsilon") for i in range(5)]
            + [(10 + i, "epsilon delta gamma beta alpha") for i in range(3)]
            + [(20, "totally different words entirely here")]
        )
        fact = self._run(spark, rows, True)
        direct = self._run(spark, rows, False)
        assert fact == direct
        # word-shuffled clones share the fingerprint bit-for-bit
        assert fact[0] == fact[10]
        assert len(fact[0]) == 64

    def test_multiset_not_set(self, spark):
        # duplicate words change the vote sums — the key must separate
        # "a a b" from "a b" (a SET key would merge them)
        rows = [(1, "a a b"), (2, "a b"), (3, "a a b")]
        fact = self._run(spark, rows, True)
        direct = self._run(spark, rows, False)
        assert fact == direct
        assert fact[1] == fact[3]

    def test_embedded_separator_parity(self, spark):
        rows = [(1, "x\x00y z"), (2, "x y\x00z"), (3, "x\x00y z")]
        fact = self._run(spark, rows, True)
        direct = self._run(spark, rows, False)
        assert fact == direct
        assert fact[1] == fact[3]


class TestAdaptiveCentroids:
    """VERDICT r7 #2: scale-adaptive cluster/list counts. The formula is
    the contract both engine and oracle compute (k ≈ N/1024 clamped to
    [16, 1024]); small corpora land on the historical k=16 exactly so
    committed sf ≤ 0.1 hash evidence is unchanged."""

    def test_formula(self):
        from simple_cdc_service_spark.operators.similarity import (
            adaptive_n_centroids,
        )
        from simple_cdc_service_spark.functions.ref_oracle import (
            _adaptive_n_centroids,
        )

        cases = [0, 1, 500, 2050, 16 * 1024, 16 * 1024 + 1, 200_050,
                 2_000_000, 10**9]
        for n in cases:
            k = adaptive_n_centroids(n)
            assert k == _adaptive_n_centroids(n)  # oracle mirror
            assert 16 <= k <= 1024
        assert adaptive_n_centroids(500) == 16          # lo clamp
        assert adaptive_n_centroids(2050) == 16         # sf0.1 → historical k
        assert adaptive_n_centroids(16 * 1024) == 16    # boundary
        assert adaptive_n_centroids(16 * 1024 + 1) == 17
        assert adaptive_n_centroids(200_050) == 196     # sf10
        assert adaptive_n_centroids(10**9) == 1024      # hi clamp


class TestIvfAssignKernel:
    """The nprobe=1 assignment kernel (per-dimension left folds) must
    reproduce the sequential-fold cosine argmax with the (sim DESC,
    centroid_id ASC) tie-break — the protocol of the former
    crossJoin+window path and of every assignment oracle."""

    def _fold_cos(self, a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        da = 0.0
        for x in a:
            da += x * x
        db = 0.0
        for y in b:
            db += y * y
        import math

        return num / (math.sqrt(da) * math.sqrt(db))

    def test_kernel_matches_fold_argmax(self, spark):
        import random

        from simple_cdc_service_spark.operators.similarity import ivf_assign

        rng = random.Random(7)
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        cents = [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(5)]
        corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        cdf = spark.createDataFrame(
            cents, "centroid_id long, embedding array<double>"
        )
        got = {
            r.vec_id: r.centroid_id for r in ivf_assign(corpus, cdf).collect()
        }
        for vid, v in vecs:
            sims = [(-self._fold_cos(v, cv), ci) for ci, cv in cents]
            sims.sort()
            assert got[vid] == sims[0][1], f"vec {vid}"

    def test_duplicate_centroid_tiebreak(self, spark):
        from simple_cdc_service_spark.operators.similarity import ivf_assign

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        # centroids 1 and 2 are identical — ties must go to the SMALLER id
        cdf = spark.createDataFrame(
            [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
            "centroid_id long, embedding array<double>",
        )
        got = {r.vec_id: r.centroid_id for r in ivf_assign(corpus, cdf).collect()}
        assert got == {1: 1, 2: 0}

    def test_empty_centroids(self, spark):
        from simple_cdc_service_spark.operators.similarity import ivf_assign

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        cdf = spark.createDataFrame([], "centroid_id long, embedding array<double>")
        assert ivf_assign(corpus, cdf).count() == 0


class TestDecisionCacheSessionGuard:
    """VERDICT r7 #5: a cached factorization decision belongs to the
    session that measured it. An entry whose owning session is not the
    current frame's session must be ignored and re-measured (same
    identity guard as the shingle-stage cache)."""

    def test_stale_session_entry_remeasured(self, spark, tmp_path):
        from simple_cdc_service_spark.operators import dedup

        path = str(tmp_path / "guard.parquet")
        spark.createDataFrame(
            [(i, "alpha beta gamma delta") for i in range(6)],
            "doc_id long, text string",
        ).write.parquet(path)
        df = spark.read.parquet(path)

        dedup._FACTORIZE_DECISION_CACHE.clear()
        dedup._SHINGLE_STAGE_CACHE.clear()
        dedup.minhash_dedup_pairs(df, n=1).collect()
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 1
        key, (sess, val, _docs, _avg) = next(
            iter(dedup._FACTORIZE_DECISION_CACHE.items())
        )  # r11: 4-tuple (session, decision, doc count, mean set size)
        assert sess is spark

        # poison the entry with a foreign "session" and a WRONG decision:
        # a served hit would flip the factorize branch; re-measurement
        # restores both the owner and the measured value
        class _NotASession:
            pass

        dedup._FACTORIZE_DECISION_CACHE[key] = (_NotASession(), not val, 0, 0.0)
        dedup.minhash_dedup_pairs(df, n=1).collect()
        sess2, val2, _docs2, _avg2 = dedup._FACTORIZE_DECISION_CACHE[key]
        assert sess2 is spark
        assert val2 == val


class TestAdaptiveLshParams:
    """Scale-adaptive hyperplane-LSH shape (the r8 carry-forward made
    code): fixed rbits is a fixed-parameter quadratic — random pairs
    collide at ~bands·2^-rbits of ALL pairs regardless of N — so rbits
    grows with the corpus while bands re-solves for the historical
    recall floor. Everything at today's scales must stay on (8, 8)."""

    def test_current_scales_keep_historical_shape(self):
        from simple_cdc_service_spark.operators.dedup import adaptive_lsh_params

        # every committed corpus (sf0.001 .. sf10: up to 200,050 vectors)
        # stays on the historical shape for any sane threshold
        for n in (0, 1, 100, 2_050, 20_050, 200_050, 262_144):
            for t in (0.9, 0.98, -1.0):
                assert adaptive_lsh_params(n, t) == (8, 8), (n, t)
        # first decade past the clamp grows rbits
        assert adaptive_lsh_params(262_145, 0.98)[1] == 9

    def test_oracle_mirror_identical(self):
        from simple_cdc_service_spark.functions.ref_oracle import (
            _adaptive_lsh_params,
        )
        from simple_cdc_service_spark.operators.dedup import adaptive_lsh_params

        for n in (0, 1024, 200_050, 262_145, 2_000_000, 50_000_000):
            for t in (0.9, 0.95, 0.98):
                assert adaptive_lsh_params(n, t) == _adaptive_lsh_params(n, t)

    def test_recall_floor_held_and_buckets_bounded(self):
        """Independent check of the closed-form bands solve: brute-force
        the smallest b with recall(b, rbits) >= recall(8, 8) and compare;
        expected random bucket size stays ~<= target."""
        import math

        from simple_cdc_service_spark.operators.dedup import adaptive_lsh_params

        for n, t in [(2_000_000, 0.98), (2_000_000, 0.9), (50_000_000, 0.95)]:
            bands, rbits = adaptive_lsh_params(n, t)
            p = 1.0 - math.acos(t) / math.pi
            floor = 1.0 - (1.0 - p**8) ** 8
            b = 1
            while 1.0 - (1.0 - p**rbits) ** b < floor - 1e-12:
                b += 1
            assert bands == max(8, b), (n, t, bands, b)
            # bucket bound: rbits is the smallest >=8 with n <= 1024*2^r
            # (or the hi cap)
            assert rbits == min(16, max(8, math.ceil(math.log2(n / 1024)))), (n, t)
            assert 1.0 - (1.0 - p**rbits) ** bands >= floor - 1e-12

    def test_adaptive_default_matches_explicit_small_corpus(self, spark):
        """embedding_dup_pairs_lsh() with the adaptive default resolves
        to (8, 8) on a small corpus — byte-identical result to the
        explicit historical shape (committed hash evidence unchanged)."""
        import numpy as np

        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs_lsh

        rng = np.random.default_rng(7)
        base = rng.standard_normal((40, 16)).round(3)
        rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
        rows += [(1_000 + i, rows[i][1]) for i in range(5)]  # planted dups
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got_adaptive = sorted(
            (r.vec_id_a, r.vec_id_b, r.cos_sim)
            for r in embedding_dup_pairs_lsh(df, threshold=0.98).collect()
        )
        got_explicit = sorted(
            (r.vec_id_a, r.vec_id_b, r.cos_sim)
            for r in embedding_dup_pairs_lsh(
                df, threshold=0.98, bands=8, rbits=8
            ).collect()
        )
        assert got_adaptive == got_explicit
        planted = {(i, 1_000 + i) for i in range(5)}
        assert planted <= {(a, b) for a, b, _ in got_adaptive}


class TestCheckpointCorpusBinding:
    """The 500k-store admission bench (r8) surfaced a silent-data-loss
    protocol hole: a FRESH checkpoint restarts micro-batch ids at 0, so
    against a corpus with committed versions its batches are either
    skipped whole (manifest present -> treated as crash replay) or
    committed below the latest manifest (manifest vacuumed -> invisible
    to read_corpus, deleted by the next vacuum; measured: 9,999 admitted
    docs silently absent). start_corpus_dedup_admission now binds a
    checkpoint to its corpus on first use and refuses mismatches."""

    def _mk(self, tmp_path, name):
        p = tmp_path / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def test_new_pair_binds_and_rebinds_idempotently(self, tmp_path):
        from simple_cdc_service_spark.streaming.pipeline import (
            _bind_checkpoint_to_corpus,
        )

        ckpt = self._mk(tmp_path, "ckpt")
        corpus = self._mk(tmp_path, "corpus")
        _bind_checkpoint_to_corpus(ckpt, corpus)
        # restart of the same pair (availableNow chunk harness) passes
        _bind_checkpoint_to_corpus(ckpt, corpus)

    def test_bound_checkpoint_refuses_other_corpus(self, tmp_path):
        import pytest as _pytest

        from simple_cdc_service_spark.streaming.pipeline import (
            _bind_checkpoint_to_corpus,
        )

        ckpt = self._mk(tmp_path, "ckpt")
        a = self._mk(tmp_path, "corpus_a")
        b = self._mk(tmp_path, "corpus_b")
        _bind_checkpoint_to_corpus(ckpt, a)
        with _pytest.raises(ValueError, match="bound to corpus"):
            _bind_checkpoint_to_corpus(ckpt, b)

    @staticmethod
    def _commit(corpus, version, rel):
        """Commit corpus manifest ``version`` listing one docs and one sig
        file under ``rel`` — the on-disk shape of a committed batch
        (rel ``v{B}``) or of a compacted store (rel ``c{V}_0``)."""
        from simple_cdc_service_spark.streaming.pipeline import _commit_manifest

        entry = {"rows": 1, "min": 0, "max": 0, "exact": True}
        _commit_manifest(str(corpus), version, {
            "batch_id": version,
            "key": "doc_id",
            "schema_ddl": "`doc_id` bigint, `text` string",
            "sigs_ddl": "`doc_id` bigint, `band` int, `bv` bigint",
            "files": [dict(entry, path=f"data/{rel}/part-0.parquet")],
            "sigs": [dict(entry, path=f"sigs/{rel}/part-0.parquet")],
            "total_rows": 1,
        })

    def test_new_checkpoint_refuses_corpus_with_committed_delta(self, tmp_path):
        import pytest as _pytest

        from simple_cdc_service_spark.streaming.pipeline import (
            _bind_checkpoint_to_corpus,
        )

        corpus = tmp_path / "corpus"
        self._commit(corpus, 0, "v0")
        with _pytest.raises(ValueError, match="already has committed versions"):
            _bind_checkpoint_to_corpus(
                str(tmp_path / "fresh_ckpt"), str(corpus)
            )

    def test_new_checkpoint_refuses_compacted_corpus(self, tmp_path):
        """The nastier half: compaction and vacuum removed the batch files
        and every older manifest, so only the latest, compacted manifest
        betrays the history — a fresh checkpoint's batch 0 would commit
        BELOW it and be invisible/vacuumed."""
        import pytest as _pytest

        from simple_cdc_service_spark.streaming.pipeline import (
            _bind_checkpoint_to_corpus,
        )

        corpus = tmp_path / "corpus"
        self._commit(corpus, 2, "c2_0")
        with _pytest.raises(ValueError, match="already has committed versions"):
            _bind_checkpoint_to_corpus(
                str(tmp_path / "fresh_ckpt"), str(corpus)
            )

    def test_admission_stream_writes_binding(self, spark, tmp_path):
        """End-to-end: the admission stream creates the binding file and
        a second stream over the same pair (chunked restart) proceeds;
        pointing the same checkpoint at a different corpus_dir raises."""
        import json as _json
        import os as _os

        import pytest as _pytest

        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = tmp_path / "src"
        src.mkdir()
        corpus = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        with open(src / "b1.json", "w") as f:
            f.write(_json.dumps({"doc_id": 1, "text": "alpha beta gamma "
                                 "delta epsilon zeta eta theta"}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        start_corpus_dedup_admission(stream, corpus, ckpt).awaitTermination()
        assert _os.path.exists(_os.path.join(ckpt, "corpus_binding.json"))
        assert {r.doc_id for r in read_corpus(spark, corpus).collect()} == {1}
        # same pair restarts fine (no new data -> no-op query)
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        start_corpus_dedup_admission(stream, corpus, ckpt).awaitTermination()
        # same checkpoint, different corpus -> refused before any write
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        with _pytest.raises(ValueError, match="bound to corpus"):
            start_corpus_dedup_admission(
                stream, str(tmp_path / "other_corpus"), ckpt
            )

    def test_rebind_flag_is_the_explicit_recovery_hatch(self, tmp_path):
        """allow_rebind=True rewrites the binding (lost-checkpoint
        recovery over a re-delivering source) — both for a new
        checkpoint on a non-empty corpus and for a checkpoint bound
        elsewhere."""
        from simple_cdc_service_spark.streaming.pipeline import (
            _bind_checkpoint_to_corpus,
        )

        corpus = tmp_path / "corpus"
        self._commit(corpus, 2, "c2_0")
        ckpt = str(tmp_path / "fresh_ckpt")
        _bind_checkpoint_to_corpus(ckpt, str(corpus), allow_rebind=True)
        # now bound; pointing at another corpus refuses without the flag
        other = self._mk(tmp_path, "other")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="bound to corpus"):
            _bind_checkpoint_to_corpus(ckpt, other)
        _bind_checkpoint_to_corpus(ckpt, other, allow_rebind=True)
        # rebind is sticky: the new binding now passes unflagged
        _bind_checkpoint_to_corpus(ckpt, other)

"""Round-7 regression tests: the five ADVICE r6 findings plus the
adaptive-factorization decision cache (VERDICT r7 item 1)."""

import os

import pytest
from pyspark.sql import functions as F


class TestEmbeddingPairsNullBlocks:
    """ADVICE r6 (medium): the applyInPandas rewrite of
    embedding_dup_pairs must preserve join NULL-propagation — rows whose
    block value is NULL never pair with anything (the equi-join this
    replaced, and the DuckDB oracle's a.label = b.label, never match
    NULLs)."""

    def test_null_blocks_emit_no_pairs(self, spark):
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        # two identical vectors in a NULL block (cosine 1.0 — would pair
        # if NULL blocks were grouped), plus a real block with a pair
        rows = [
            (1, None, [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, "a", [0.0, 1.0]),
            (4, "a", [0.0, 1.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>"
        )
        got = sorted(
            (r.vec_id_a, r.vec_id_b)
            for r in embedding_dup_pairs(df, threshold=0.9).collect()
        )
        assert got == [(3, 4)]

    def test_all_null_blocks_empty(self, spark):
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        df = spark.createDataFrame(
            [(1, None, [1.0, 0.0]), (2, None, [1.0, 0.0])],
            "vec_id long, label string, embedding array<double>",
        )
        assert embedding_dup_pairs(df, threshold=0.5).count() == 0


class TestFactorizedCustomIdCol:
    """ADVICE r6 (low): the factorized within-group expansion must
    forward id_col to bucket_pairs — a non-default id column with the
    factorized path chosen used to raise AnalysisException."""

    ROWS = [
        # clone group (identical sets) + a distinct doc, custom id col
        (101, "alpha beta gamma delta epsilon zeta"),
        (102, "alpha beta gamma delta epsilon zeta"),
        (103, "alpha beta gamma delta epsilon zeta"),
        (104, "totally different words here about storage engines"),
    ]

    def test_factorized_path_with_custom_id(self, spark):
        from simple_cdc_service_spark.operators.dedup import minhash_dedup_pairs

        df = spark.createDataFrame(self.ROWS, "docid long, text string")
        fact = sorted(
            map(
                tuple,
                minhash_dedup_pairs(
                    df, n=1, id_col="docid", factorize=True
                ).collect(),
            )
        )
        direct = sorted(
            map(
                tuple,
                minhash_dedup_pairs(
                    df, n=1, id_col="docid", factorize=False
                ).collect(),
            )
        )
        assert fact == direct
        assert {(a, b) for a, b, _ in fact} >= {(101, 102), (101, 103), (102, 103)}


class TestJaccardPublicContract:
    """ADVICE r6 (low): public jaccard() must be correct for arbitrary
    arrays (duplicates collapsed); jaccard_distinct keeps the
    precondition-guarded fast form for the verify hot path."""

    def test_duplicates_collapsed(self, spark):
        from simple_cdc_service_spark.functions import jaccard, jaccard_distinct

        df = spark.createDataFrame(
            [(["a", "a", "b"], ["b", "b", "c"])],
            "a array<string>, b array<string>",
        )
        row = df.select(
            jaccard(F.col("a"), F.col("b")).alias("j"),
            jaccard_distinct(
                F.array_distinct("a"), F.array_distinct("b")
            ).alias("jd"),
        ).first()
        # set jaccard of {a,b} vs {b,c} = 1/3
        assert row.j == pytest.approx(1 / 3)
        assert row.j == row.jd

    def test_distinct_inputs_identical(self, spark):
        from simple_cdc_service_spark.functions import jaccard, jaccard_distinct

        df = spark.createDataFrame(
            [(["x", "y", "z"], ["y", "z", "w"]), ([], [])],
            "a array<string>, b array<string>",
        )
        rows = df.select(
            jaccard(F.col("a"), F.col("b")).alias("j"),
            jaccard_distinct(F.col("a"), F.col("b")).alias("jd"),
        ).collect()
        assert rows[0].j == rows[0].jd == pytest.approx(0.5)
        assert rows[1].j is None and rows[1].jd is None  # empty∩empty → NULL


class TestHalfMem:
    """ADVICE r6 (low): default maxResultSize is derived as half the
    driver heap so a near-limit collect fails with the clean
    maxResultSize error instead of OOMing the driver."""

    def test_half_mem_parses(self):
        from simple_cdc_service_spark.session import _half_mem

        assert _half_mem("8g") == "4g"
        assert _half_mem("1g") == "512m"
        assert _half_mem("512m") == "256m"
        assert _half_mem("3g") == "1536m"
        assert _half_mem("100m") == "256m"  # floor
        assert _half_mem("garbage") == "1g"  # conservative fallback


class TestFactorizeDecisionCache:
    """VERDICT r7 #1: the adaptive-factorization decision statistic is
    cached per (source plan, input files + mtimes, shingle params) within
    a session; any input-file rewrite invalidates the key."""

    def _write_corpus(self, spark, path):
        rows = [(i, f"unique words number {i} with shared filler tokens")
                for i in range(20)]
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(path)
        return spark.read.parquet(path)

    def test_decision_cached_and_invalidated(self, spark, tmp_path):
        from simple_cdc_service_spark.operators import dedup

        path = str(tmp_path / "corpus.parquet")
        df = self._write_corpus(spark, path)
        dedup._FACTORIZE_DECISION_CACHE.clear()
        r1 = sorted(map(tuple, dedup.minhash_dedup_pairs(df, n=1).collect()))
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 1
        cached_sess, cached_decision, cached_docs, cached_avg = next(
            iter(dedup._FACTORIZE_DECISION_CACHE.values())
        )  # r10: measured doc count; r11: mean set size (the verify-gate
        # mass input rides the same cached measurement)
        assert cached_docs == 20
        assert cached_avg > 0
        assert cached_sess is spark  # r8: value carries the owning session
        # second adaptive run: served from cache (no new key), same output
        r2 = sorted(map(tuple, dedup.minhash_dedup_pairs(df, n=1).collect()))
        assert r1 == r2
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 1
        # cached decision equals the forced-path equivalence
        forced = sorted(
            map(
                tuple,
                dedup.minhash_dedup_pairs(
                    df, n=1, factorize=cached_decision
                ).collect(),
            )
        )
        assert forced == r1
        # touching any input file changes the key → re-measured
        for f in os.listdir(path):
            fp = os.path.join(path, f)
            os.utime(fp, (os.path.getmtime(fp) + 5, os.path.getmtime(fp) + 5))
        dedup.minhash_dedup_pairs(df, n=1).collect()
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 2

    def test_different_params_different_key(self, spark, tmp_path):
        from simple_cdc_service_spark.operators import dedup

        path = str(tmp_path / "corpus2.parquet")
        df = self._write_corpus(spark, path)
        dedup._FACTORIZE_DECISION_CACHE.clear()
        dedup.minhash_dedup_pairs(df, n=1).collect()
        dedup.minhash_dedup_pairs(df, n=3).collect()
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 2

    def test_shingle_stage_shared_across_families(self, spark, tmp_path):
        """The staged shingle frame is family-independent: md5 and
        xxhash64 pipelines over one unchanged corpus share a single
        cached localCheckpoint, and both stay pair-set-identical to
        their uncached (in-memory source) runs."""
        from simple_cdc_service_spark.operators import dedup

        path = str(tmp_path / "corpus3.parquet")
        df = self._write_corpus(spark, path)
        dedup._FACTORIZE_DECISION_CACHE.clear()
        dedup._SHINGLE_STAGE_CACHE.clear()
        md5 = {(r.doc_id_a, r.doc_id_b)
               for r in dedup.minhash_dedup_pairs(df, n=3).collect()}
        assert len(dedup._SHINGLE_STAGE_CACHE) == 1
        cached_frame = next(iter(dedup._SHINGLE_STAGE_CACHE.values()))
        xx = {(r.doc_id_a, r.doc_id_b)
              for r in dedup.minhash_dedup_pairs(df, n=3, family="xxhash64").collect()}
        # second family reused the same staged frame (no new entry)
        assert len(dedup._SHINGLE_STAGE_CACHE) == 1
        assert next(iter(dedup._SHINGLE_STAGE_CACHE.values())) is cached_frame
        # outputs match the uncached in-memory-source runs exactly
        mem = spark.createDataFrame(
            spark.read.parquet(path).collect(), "doc_id long, text string"
        )
        assert md5 == {(r.doc_id_a, r.doc_id_b)
                       for r in dedup.minhash_dedup_pairs(mem, n=3).collect()}
        assert xx == {
            (r.doc_id_a, r.doc_id_b)
            for r in dedup.minhash_dedup_pairs(mem, n=3, family="xxhash64").collect()
        }

    def test_uncacheable_frames_not_cached(self, spark):
        from simple_cdc_service_spark.operators import dedup

        # in-memory frame: no input files → never cached, still correct
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
            "doc_id long, text string",
        )
        dedup._FACTORIZE_DECISION_CACHE.clear()
        pairs = dedup.minhash_dedup_pairs(df, n=1).collect()
        assert len(dedup._FACTORIZE_DECISION_CACHE) == 0
        assert {(r.doc_id_a, r.doc_id_b) for r in pairs} == {(1, 2)}


class TestKmeansSummaryDecimalMean:
    """VERDICT r7 item 4: embedding_kmeans's per-cluster mean cosine
    accumulates in exact decimal space, so the rounded mean is a pure
    function of the data — identical across partition layouts (the F.avg
    double fold it replaced was merge-order-dependent in the low bits,
    the one blocker keeping the entry rows-only)."""

    def test_mean_partition_layout_invariant(self, spark):
        import numpy as np

        from simple_cdc_service_spark.operators.similarity import (
            kmeans_cluster_summary,
        )

        rng = np.random.default_rng(7)
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(400)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        outs = []
        for parts in (1, 7, 32):
            got = kmeans_cluster_summary(
                df.repartition(parts), n_clusters=4, seed=42
            ).collect()
            outs.append(sorted(tuple(r) for r in got))
        assert outs[0] == outs[1] == outs[2]
        assert sum(r[1] for r in outs[0]) == 400


class TestXxh64NumpyParity:
    """VERDICT r7 item 3: the vectorized numpy XXH64 batch kernel is
    bit-identical to the scalar reference (itself JVM-parity-pinned in
    TestXxh64Parity) across every control-flow branch: empty, sub-4,
    sub-8, sub-32, multi-stripe, and unicode inputs, with per-row
    seeds."""

    def test_batch_matches_scalar_all_lengths(self):
        import random

        import numpy as np

        from simple_cdc_service_spark.functions.xxh64_py import xxh64
        from simple_cdc_service_spark.functions.xxh64_np import xxh64_batch

        rng = random.Random(11)
        lens = [0, 1, 2, 3, 4, 5, 7, 8, 9, 12, 15, 16, 24, 31, 32, 33,
                40, 63, 64, 65, 96, 100, 127, 128]
        rows = [bytes(rng.randrange(256) for _ in range(L))
                for L in lens for _ in range(8)]
        seeds = np.array([rng.randrange(1 << 64) for _ in rows], dtype=np.uint64)
        got = xxh64_batch(rows, seeds)
        want = np.array(
            [xxh64(b, int(s)) for b, s in zip(rows, seeds)], dtype=np.uint64
        )
        assert (got == want).all()

    def test_int_str_batch_matches_scalar(self):
        import numpy as np

        from simple_cdc_service_spark.functions.xxh64_py import (
            spark_xxhash64_int_str,
        )
        from simple_cdc_service_spark.functions.xxh64_np import (
            spark_xxhash64_int_str_batch,
        )

        strs = ["", "a", "héllo wörld", "x" * 40, "шингл три грамма",
                "the quick brown fox jumps over the lazy dog"] + [
            f"tok{i} {i * 7} gram" for i in range(200)
        ]
        ints = [i % 8 for i in range(len(strs))]
        got = spark_xxhash64_int_str_batch(ints, strs)
        want = np.array(
            [spark_xxhash64_int_str(i, s) for i, s in zip(ints, strs)],
            dtype=np.int64,
        )
        assert (got == want).all()

    def test_long_int_batch_matches_scalar(self):
        import random

        import numpy as np

        from simple_cdc_service_spark.functions.xxh64_py import (
            spark_xxhash64_long_int,
        )
        from simple_cdc_service_spark.functions.xxh64_np import (
            spark_xxhash64_long_int_batch,
        )

        rng = random.Random(5)
        longs = [rng.randrange(-(1 << 63), 1 << 63) for _ in range(500)] + [
            0, 1, -1, (1 << 63) - 1, -(1 << 63)
        ]
        for seed in (42, 0, 7):
            got = spark_xxhash64_long_int_batch(longs, seed)
            want = np.array(
                [spark_xxhash64_long_int(v, seed) for v in longs], dtype=np.int64
            )
            assert (got == want).all()

    def test_duckdb_arrow_udf_matches_scalar_udf(self):
        """The registered Arrow xx64 gives the same answers as the scalar
        UDF through an actual DuckDB query (the oracle call shape)."""
        import duckdb

        from simple_cdc_service_spark.functions.xxh64_np import (
            register_xx64_arrow,
        )
        from simple_cdc_service_spark.functions.xxh64_py import (
            spark_xxhash64_int_str,
        )

        con = duckdb.connect()
        assert register_xx64_arrow(con)
        con.execute(
            "CREATE TABLE t AS SELECT 'shingle ' || CAST(r AS VARCHAR) AS s, "
            "CAST(r % 8 AS INTEGER) AS i FROM range(1000) tbl(r)"
        )
        rows = con.execute("SELECT i, s, xx64(i, s) FROM t ORDER BY s, i").fetchall()
        assert all(h == spark_xxhash64_int_str(i, s) for i, s, h in rows)


class TestFusedProbeAdmission:
    """VERDICT r7 item 5: fuse_probe folds the within-batch collapse into
    the store probe (one banded candidate join against batch ∪ store, one
    verify chain). The admitted set must be IDENTICAL to the sequential
    path on a feed exercising within-batch chains, cross-batch
    near-dups, exact dups, and novel docs."""

    TEXTS = {
        1: "the quick brown fox one jumps over the lazy dog near river "
           "bend while birds watch the water flow past the old mill",
        2: "completely different content describing distributed storage "
           "engines compaction strategies and write amplification costs",
        3: "a third unrelated document about medieval falconry traditions "
           "and the training of hunting birds across the centuries",
    }

    def _run_feed(self, spark, tmp_path, tag, fused):
        import json as _json

        from simple_cdc_service_spark.streaming.pipeline import (
            read_corpus,
            start_corpus_dedup_admission,
        )

        src = str(tmp_path / f"src_{tag}")
        corpus_dir = str(tmp_path / f"corpus_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        os.makedirs(src)
        t = self.TEXTS
        batches = [
            [(1, t[1]), (2, t[2])],
            [
                (10, t[1] + " tail"),          # cross-batch near-dup → reject
                (20, t[3]), (21, t[3] + " extra"),  # in-batch pair → keep 20
                (22, t[3] + " extra more"),    # chain: 20-21-22 one cluster
                (30, "entirely novel text on tidal energy turbines and grid "
                     "integration challenges in northern estuaries today"),
            ],
            [
                (40, t[2]),                    # exact dup of admitted → reject
                (41, "fresh prose concerning alpine glacier monitoring with "
                     "radar interferometry and seasonal melt budget models"),
            ],
        ]
        for i, rows in enumerate(batches):
            with open(os.path.join(src, f"b{i}.json"), "w") as f:
                for did, text in rows:
                    f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
            stream = spark.readStream.schema("doc_id long, text string").json(src)
            start_corpus_dedup_admission(
                stream, corpus_dir, ckpt, threshold=0.5,
                fuse_probe=fused,
            ).awaitTermination()
        return sorted(r.doc_id for r in read_corpus(spark, corpus_dir).collect())

    def test_fused_equals_sequential(self, spark, tmp_path):
        seq = self._run_feed(spark, tmp_path, "seq", fused=False)
        fus = self._run_feed(spark, tmp_path, "fus", fused=True)
        assert seq == fus
        # and the set itself is the expected admission outcome
        assert seq == [1, 2, 20, 30, 41]


class TestBucketPairsChunked:
    """SCALE100 r7 disease: a 24.8k-member clone-group bucket put 307M
    pairs and ~5 GB of per-row array copies through ONE task. bucket_pairs
    now splits buckets past ``chunk`` into a chunked triangular join; the
    pair SET must be identical across chunk settings (both tiers, both
    dedup modes)."""

    def _pairs(self, spark, rows, **kw):
        from simple_cdc_service_spark.operators.dedup import bucket_pairs

        df = spark.createDataFrame(rows, "doc_id long, band int, bv string")
        return sorted(
            (r.doc_id_a, r.doc_id_b) for r in bucket_pairs(df, **kw).collect()
        )

    def test_chunked_equals_inplace(self, spark):
        import itertools
        import random

        rng = random.Random(13)
        # buckets of size 1..9 across 2 bands; ids deliberately shared
        # across bands so multi-band dedup matters
        rows = []
        for band in (0, 1):
            ids = list(range(30))
            rng.shuffle(ids)
            at = 0
            for size in (1, 2, 3, 5, 9, 7, 3):
                bv = f"b{band}v{at}"
                for d in ids[at : at + size]:
                    rows.append((d, band, bv))
                at += size
        want = self._pairs(spark, rows, chunk=2048)  # all in-place
        for chunk in (1, 2, 3, 4):
            got = self._pairs(spark, rows, chunk=chunk)  # all/mixed chunked
            assert got == want, chunk
        # expected set from first principles
        by_bucket = {}
        for d, band, bv in rows:
            by_bucket.setdefault((band, bv), []).append(d)
        expect = sorted(
            {
                (min(a, b), max(a, b))
                for ids in by_bucket.values()
                for a, b in itertools.combinations(sorted(ids), 2)
            }
        )
        assert want == expect

    def test_dedup_false_single_band_partition(self, spark):
        """Single band + partitioning buckets: dedup=False must give the
        same pair set (each pair arises exactly once)."""
        rows = [(d, 0, f"g{d % 3}") for d in range(20)]
        assert self._pairs(spark, rows, chunk=4, dedup=False) == self._pairs(
            spark, rows, chunk=2048, dedup=True
        )

    def test_null_and_singleton_buckets_drop(self, spark):
        rows = [(1, 0, None), (2, 0, None), (3, 0, "solo"), (4, 0, "g"), (5, 0, "g")]
        assert self._pairs(spark, rows, chunk=1) == [(4, 5)]


class TestPrefixJaccardFactorized:
    """SCALE100 r7 disease #2: clone-heavy corpora make even the exact
    prefix-filter join quadratic (every member of an identical-set group
    truly matches every other). The set-identity factorized path must
    produce the identical pair set + jaccard values as the direct path,
    including cross-group near-matches and block boundaries."""

    ROWS = [
        # clone group A (identical word SET, different order), block s1
        (1, "s1", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "s1", "zeta epsilon delta gamma beta alpha theta eta"),
        (3, "s1", "theta eta zeta epsilon delta gamma beta alpha"),
        # near-match of A (7/9 overlap too low for 0.95 but high for 0.8):
        (4, "s1", "alpha beta gamma delta epsilon zeta eta iota"),
        # clone group B, block s1
        (5, "s1", "one two three four five six seven eight nine ten"),
        (6, "s1", "ten nine eight seven six five four three two one"),
        # same set as A but DIFFERENT block: must never pair with A
        (7, "s2", "alpha beta gamma delta epsilon zeta eta theta"),
        (8, "s2", "theta zeta eta epsilon delta gamma beta alpha"),
        # empty-TEXT docs: split('') yields [''], so their word set
        # is {''} — they pair with each other (oracle's string_split
        # agrees), just not with anything else
        (9, "s1", ""),
        (10, "s1", ""),
    ]

    def _pairs(self, spark, threshold, factorize):
        from simple_cdc_service_spark.operators.dedup import prefix_jaccard_pairs

        df = spark.createDataFrame(self.ROWS, "doc_id long, source string, text string")
        return sorted(
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in prefix_jaccard_pairs(
                df, threshold=threshold, factorize=factorize
            ).collect()
        )

    @pytest.mark.parametrize("threshold", [0.95, 0.8])
    def test_factorized_equals_direct(self, spark, threshold):
        direct = self._pairs(spark, threshold, factorize=False)
        fact = self._pairs(spark, threshold, factorize=True)
        assert fact == direct
        # clone groups fully paired within blocks, never across blocks
        ids = {(a, b) for a, b, _ in fact}
        assert {(1, 2), (1, 3), (2, 3), (5, 6), (7, 8)} <= ids
        assert not any({a, b} & {7, 8} and {a, b} & {1, 2, 3, 4} for a, b in ids)
        # empty-text docs pair only with each other
        assert (9, 10) in ids
        assert not any(
            ({a, b} & {9, 10}) and ({a, b} - {9, 10}) for a, b in ids
        )

    def test_adaptive_decision_runs(self, spark):
        """factorize=None on an in-memory frame (uncacheable key) must
        still measure and produce the same result set."""
        adaptive = self._pairs(spark, 0.95, factorize=None)
        assert adaptive == self._pairs(spark, 0.95, factorize=False)


class TestNgramJaccardClustersFactorized:
    """Factorized dedup completion (engine-side rep-graph closure): the
    (block, word-set) representative-graph components expanded through
    membership must equal dup_clusters over the full pair list —
    including clone groups bridged by a cross-group near-match (the
    transitive case) and isolated clone groups (within-only)."""

    ROWS = [
        # clone group A (block s1)
        (1, "s1", "alpha beta gamma delta epsilon zeta eta theta kappa mu"),
        (2, "s1", "mu kappa theta eta zeta epsilon delta gamma beta alpha"),
        # group B: 9/11 union overlap with A -> j ~= 0.818 (bridges at 0.8)
        (3, "s1", "alpha beta gamma delta epsilon zeta eta theta kappa nu"),
        (4, "s1", "nu kappa theta eta zeta epsilon delta gamma beta alpha"),
        # isolated clone group C (block s1)
        (5, "s1", "one two three four five six seven eight nine ten"),
        (6, "s1", "ten nine eight seven six five four three two one"),
        # same set as A in ANOTHER block: its own cluster
        (7, "s2", "alpha beta gamma delta epsilon zeta eta theta kappa mu"),
        (8, "s2", "mu kappa theta eta zeta epsilon delta gamma beta alpha"),
        # unpaired singleton
        (9, "s1", "totally unrelated prose about glacier radar monitoring"),
    ]

    def _clusters(self, spark, threshold, factorize):
        from simple_cdc_service_spark.operators.dedup import ngram_jaccard_clusters

        df = spark.createDataFrame(self.ROWS, "doc_id long, source string, text string")
        return sorted(
            (r.doc_id, r.cluster_id)
            for r in ngram_jaccard_clusters(
                df, threshold=threshold, factorize=factorize
            ).collect()
        )

    @pytest.mark.parametrize("threshold", [0.8, 0.95])
    def test_factorized_equals_direct(self, spark, threshold):
        direct = self._clusters(spark, threshold, factorize=False)
        fact = self._clusters(spark, threshold, factorize=True)
        assert fact == direct
        labels = dict(fact)
        assert 9 not in labels  # singleton never appears
        assert labels[5] == labels[6] == 5  # isolated clone group
        assert labels[7] == labels[8] == 7  # block-separated copy of A
        if threshold == 0.8:
            # A and B bridge transitively into one component rooted at 1
            assert labels[1] == labels[2] == labels[3] == labels[4] == 1
        else:
            assert labels[1] == labels[2] == 1
            assert labels[3] == labels[4] == 3


class TestEmbeddingPairsTiled:
    """SCALE100 r7: embedding_dup_pairs spreads each metadata block over a
    (c1 <= c2) chunk-tile grid — one cogrouped task per tile instead of
    one O(block²)-memory task per block. The tile split must never change
    the pair set or a single cosine value (each pair is computed once, in
    one tile, by the same per-dimension left-fold)."""

    def _corpus(self, spark, seed=7, n=120, dim=8, blocks=3):
        import random

        rng = random.Random(seed)
        rows = []
        for i in range(n):
            base = [rng.uniform(-1, 1) for _ in range(dim)]
            rows.append((i, f"b{i % blocks}", base))
            if i % 10 == 0:  # planted near-dups in the same block
                rows.append(
                    (10_000 + i, f"b{i % blocks}", [x + 1e-4 for x in base])
                )
        return spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>"
        )

    def test_tile_equivalence(self, spark):
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        df = self._corpus(spark)
        key = lambda rows: sorted(
            (r.vec_id_a, r.vec_id_b, r.cos_sim) for r in rows
        )
        one_tile = key(embedding_dup_pairs(df, threshold=0.3, tile=10**6).collect())
        assert one_tile  # the comparison must compare something
        for tile in (1, 7, 32):
            got = key(embedding_dup_pairs(df, threshold=0.3, tile=tile).collect())
            assert got == one_tile, f"tile={tile} diverged"

    def test_tile_boundary_pairs_cross_chunks(self, spark):
        """Rows ranked into DIFFERENT chunks must still pair (the cross-tile
        leg), and id ordering a < b must hold across chunk boundaries."""
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        rows = [(i, "x", [1.0, float(i) * 1e-6]) for i in range(10)]
        df = spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>"
        )
        got = embedding_dup_pairs(df, threshold=0.99, tile=3).collect()
        assert len(got) == 45  # all C(10,2) near-identical pairs survive
        assert all(r.vec_id_a < r.vec_id_b for r in got)

"""Round-6 additions: short-doc MinHash banding guard, XXH64 JVM parity,
id-type-generic capped union-find."""

import pytest
from pyspark.sql import functions as F

from simple_cdc_service_spark.functions.xxh64_py import spark_xxhash64_int_str
from simple_cdc_service_spark.operators.dedup import (
    dup_cluster_losers_capped,
    dup_clusters,
    minhash_candidates,
    shingle_docs,
)


class TestShortDocBanding:
    """Docs shorter than the shingle width (empty shingle set → NULL
    signature minima) must never collide into a band bucket. Before the
    r6 guard, concat_ws skipped the NULLs and emitted bv='' — one shared
    bucket pairing every short doc in the corpus (ADVICE r5, medium)."""

    @pytest.fixture(scope="class")
    def mixed_docs(self, spark):
        # two unrelated SHORT docs (<3 words: empty 3-gram shingle sets),
        # two EXACT duplicates (must still pair), one singleton
        return spark.createDataFrame(
            [
                (1, "one two"),
                (2, "three four"),
                (3, "the quick brown fox jumps over the lazy dog"),
                (4, "the quick brown fox jumps over the lazy dog"),
                (5, "completely different text about spark partitions here"),
            ],
            "doc_id long, text string",
        )

    @pytest.mark.parametrize("family", ["md5", "xxhash64"])
    def test_short_docs_never_pair(self, spark, mixed_docs, family):
        pairs = minhash_candidates(
            shingle_docs(mixed_docs, n=3), k=8, bands=4, family=family
        ).collect()
        got = {(r.doc_id_a, r.doc_id_b) for r in pairs}
        assert (1, 2) not in got, "short docs collided via the '' bucket"
        assert got == {(3, 4)}, "exact duplicates must still pair"

    @pytest.mark.parametrize("family", ["md5", "xxhash64"])
    def test_all_short_corpus_yields_no_pairs(self, spark, family):
        docs = spark.createDataFrame(
            [(i, f"w{i}") for i in range(10)], "doc_id long, text string"
        )
        pairs = minhash_candidates(
            shingle_docs(docs, n=3), k=8, bands=4, family=family
        )
        assert pairs.count() == 0

    def test_engine_matches_oracle_on_short_docs(self, spark):
        """The dedup_minhash registry entry and its DuckDB oracle must agree
        on a corpus CONTAINING short docs — the r5 hash-match only held
        because test corpora lacked them (ADVICE r5)."""
        import duckdb

        from simple_cdc_service_spark.registry import REGISTRY

        docs = [
            (1, "a b"),
            (2, "c d"),
            (3, "x"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ]
        sf = spark.createDataFrame(docs, "doc_id long, text string")
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            sf.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
            got = sorted(
                (r.doc_id_a, r.doc_id_b)
                for r in REGISTRY["dedup_minhash"].fn(spark, d).collect()
            )
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')"
            )
            want = sorted(
                (a, b)
                for a, b, _ in con.execute(
                    REGISTRY["dedup_minhash"].oracle
                ).fetchall()
            )
        assert got == want == [(4, 5)]


class TestXxh64Parity:
    """Bit parity of the pure-Python XXH64 reference vs Spark's JVM
    F.xxhash64 over empty / unicode / multi-stripe (>=32-byte) inputs —
    the pin the xxh64_py docstring promises (ADVICE r5, low)."""

    CASES = [
        "",
        "a",
        "hello world",
        "0123456789abcdef0123456789abcdef",          # exactly 32 bytes
        "0123456789abcdef0123456789abcdefXYZ",        # 32 + tail
        "x" * 100,                                     # multi-stripe
        "héllo wörld — ünïcode ✓ 中文 тест",          # multi-byte UTF-8
        "é" * 40,                                 # 2-byte chars, > 1 stripe
    ]

    @pytest.mark.parametrize("seed_i", [0, 1, 7, 2147483647])
    def test_parity_int_str(self, spark, seed_i):
        df = spark.createDataFrame([(s,) for s in self.CASES], "s string")
        jvm = [
            r.h
            for r in df.select(
                F.xxhash64(F.lit(seed_i), F.col("s")).alias("h")
            ).collect()
        ]
        py = [spark_xxhash64_int_str(seed_i, s) for s in self.CASES]
        assert jvm == py

    def test_parity_long_int(self, spark):
        """The seeded-sample ranking key of kmeans_centroids /
        pq_train_codebooks: xxhash64(LongType id, IntegerType seed)."""
        from simple_cdc_service_spark.functions.xxh64_py import (
            spark_xxhash64_long_int,
        )

        vals = [0, 1, -1, 42, 10**12, -(2**62), 2**63 - 1]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        for seed in (0, 42, 123456):
            jvm = [
                r.h
                for r in df.select(
                    F.xxhash64(F.col("v"), F.lit(seed)).alias("h")
                ).collect()
            ]
            py = [spark_xxhash64_long_int(v, seed) for v in vals]
            assert jvm == py


class TestCappedLosersGenericIds:
    """dup_cluster_losers_capped derives its schema from the input frame —
    string doc ids must round-trip identically through the capped path
    and the dup_clusters fallback (ADVICE r5, low)."""

    @pytest.fixture(scope="class")
    def str_pairs(self, spark):
        return spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")],
            "doc_id_a string, doc_id_b string",
        )

    def test_string_ids_capped_path(self, spark, str_pairs):
        got = sorted(r.doc_id for r in dup_cluster_losers_capped(str_pairs).collect())
        assert got == ["b", "c", "y"]
        assert dict(dup_cluster_losers_capped(str_pairs).dtypes) == {
            "doc_id": "string"
        }

    def test_string_ids_fallback_path_matches(self, spark, str_pairs):
        lab = dup_clusters(str_pairs)
        want = sorted(
            r.doc_id
            for r in lab.filter(F.col("doc_id") != F.col("cluster_id")).collect()
        )
        got = sorted(
            r.doc_id
            for r in dup_cluster_losers_capped(str_pairs, max_pairs=1).collect()
        )
        assert got == want == ["b", "c", "y"]

    def test_empty_pairs_schema_follows_input(self, spark):
        empty = spark.createDataFrame([], "doc_id_a string, doc_id_b string")
        out = dup_cluster_losers_capped(empty)
        assert out.count() == 0
        assert dict(out.dtypes) == {"doc_id": "string"}


class TestPrefixJaccard:
    """prefix_jaccard_pairs (Bayardo all-pairs prefix filter) must emit
    the EXACT brute-force blocked-jaccard pair set — it is the t>=0.8
    path of ngram_jaccard_pairs, whose few-key metadata blocks made the
    enumerated join a single-reducer straggler at 10x bench scale."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, "s1", base),
            (2, "s1", base),                         # exact dup of 1
            (3, "s1", base + " extra"),              # j = 10/11 = 0.909
            (4, "s1", "totally different words here about nothing at all"),
            (5, "s2", base),                         # same text, other block
            (6, "s2", base),                         # dup of 5 within s2
            (7, "s1", "alpha beta gamma"),           # short: length-pruned
            (8, "s1", ""),                           # empty word set
        ]
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def _brute(self, spark, corpus, t):
        from simple_cdc_service_spark.functions import jaccard, words

        w = corpus.select(
            "doc_id", F.col("source").alias("blk"),
            F.array_distinct(words(F.col("text"))).alias("ws"),
        )
        a = w.select(F.col("doc_id").alias("doc_id_a"), "blk", F.col("ws").alias("wa"))
        b = w.select(F.col("doc_id").alias("doc_id_b"), F.col("blk").alias("bb"), F.col("ws").alias("wb"))
        return (
            a.join(b, (F.col("blk") == F.col("bb")) & (F.col("doc_id_a") < F.col("doc_id_b")))
            .select("doc_id_a", "doc_id_b",
                    F.round(jaccard(F.col("wa"), F.col("wb")), 4).alias("jaccard"))
            .filter(F.col("jaccard") >= t)
        )

    @pytest.mark.parametrize("t", [0.8, 0.9, 0.95])
    def test_matches_bruteforce(self, spark, corpus, t):
        from simple_cdc_service_spark.operators.dedup import prefix_jaccard_pairs

        got = sorted(map(tuple, prefix_jaccard_pairs(corpus, threshold=t).collect()))
        want = sorted(map(tuple, self._brute(spark, corpus, t).collect()))
        assert got == want and len(got) > 0

    def test_integral_t_times_n_boundary(self, spark):
        """t*|X| exactly integral (0.9 x 10-word docs): the 1e-9 ceil
        guard must keep the prefix long enough — a dropped prefix token
        here silently loses the j=0.9 boundary pair."""
        from simple_cdc_service_spark.operators.dedup import prefix_jaccard_pairs

        # |A|=|B|=10, overlap 9 of union 10? Need j exactly 0.9: 9/10 —
        # |A u B|=10 with |A n B|=9 requires |A|=10,|B|=9 (ratio 0.9, on
        # the length-prune boundary too).
        a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        b = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
        df = spark.createDataFrame(
            [(1, "s", a), (2, "s", b)], "doc_id long, source string, text string"
        )
        got = prefix_jaccard_pairs(df, threshold=0.9).collect()
        assert [(r.doc_id_a, r.doc_id_b, r.jaccard) for r in got] == [(1, 2, 0.9)]

    def test_registry_entry_uses_prefix_path(self, spark):
        """ngram_jaccard_pairs at t=0.95 must route to the prefix filter
        (no block-keyed quadratic join in the plan: the join keys are
        (blk, token), not (blk, salt))."""
        from simple_cdc_service_spark.operators.dedup import ngram_jaccard_pairs

        df = spark.createDataFrame(
            [(1, "s", "a b c d e"), (2, "s", "a b c d e")],
            "doc_id long, source string, text string",
        )
        plan = ngram_jaccard_pairs(df, threshold=0.95)._jdf.queryExecution().toString()
        assert "salt" not in plan
        rows = ngram_jaccard_pairs(df, threshold=0.95).collect()
        assert [(r.doc_id_a, r.doc_id_b) for r in rows] == [(1, 2)]


class TestEmbeddingPairsSalted:
    """embedding_dup_pairs after the r6 salt + norm-hoist + unrolled-dot
    rework: results must be bit-identical to the naive per-pair cosine
    join (same left-fold accumulation order), and dot_unrolled must equal
    the higher-order-function fold exactly."""

    def test_dot_unrolled_bit_parity(self, spark):
        import random

        from simple_cdc_service_spark.functions import dot, dot_unrolled

        rng = random.Random(7)
        rows = [
            ([rng.uniform(-1, 1) for _ in range(16)],
             [rng.uniform(-1, 1) for _ in range(16)])
            for _ in range(50)
        ]
        df = spark.createDataFrame(rows, "a array<double>, b array<double>")
        got = df.select(
            dot(F.col("a"), F.col("b")).alias("hof"),
            dot_unrolled(F.col("a"), F.col("b"), 16).alias("unr"),
        ).collect()
        for r in got:
            assert r.hof == r.unr  # exact, not approx: same fold order

    def test_matches_naive_blocked_cosine(self, spark):
        import random

        from simple_cdc_service_spark.functions import cosine
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        rng = random.Random(11)
        rows = [
            (i, f"lbl{i % 3}", [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
        got = sorted(map(tuple, embedding_dup_pairs(df, threshold=0.1).collect()))
        e = df.select("vec_id", F.col("label").alias("blk"), F.col("embedding").alias("v"))
        a = e.select(F.col("vec_id").alias("vec_id_a"), "blk", F.col("v").alias("va"))
        b = e.select(F.col("vec_id").alias("vec_id_b"), F.col("blk").alias("bb"), F.col("v").alias("vb"))
        want = sorted(
            map(
                tuple,
                a.join(b, (F.col("blk") == F.col("bb")) & (F.col("vec_id_a") < F.col("vec_id_b")))
                .select("vec_id_a", "vec_id_b",
                        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
                .filter(F.col("cos_sim") >= 0.1)
                .collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_empty_corpus(self, spark):
        from simple_cdc_service_spark.operators.dedup import embedding_dup_pairs

        df = spark.createDataFrame([], "vec_id long, label string, embedding array<double>")
        assert embedding_dup_pairs(df).count() == 0


class TestSetIdentityFactorization:
    """The batch path of minhash_dedup_pairs groups docs by distinct
    shingle set and runs LSH+verify on representatives only (NOTES r6).
    The oracle sweep can't catch a shared misconception (engine and
    DuckDB oracle were factorized together), so this pins the factorized
    default against the preserved DIRECT path (shingled= keeps it) on a
    corpus with clone groups, cross-group near-dups, short/empty docs,
    and singletons — outputs must be row-identical at every threshold."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        near = "the quick brown fox jumps over the lazy dog today"
        rows = [
            # clone group of 3 (identical sets, distinct ids)
            (1, base),
            (7, base),
            (4, base),
            # near-dup of the clone group (cross-group pair)
            (2, near),
            # second clone group of 2
            (3, "completely different text about spark shuffle partitions"),
            (9, "completely different text about spark shuffle partitions"),
            # permutation of group 2 (same word multiset order changed —
            # same 1-gram set, different 3-gram set)
            (5, "different completely text about spark shuffle partitions"),
            # short docs (<3 words: empty 3-gram shingle set, must never pair)
            (6, "one two"),
            (8, "three four"),
            # empty doc
            (10, ""),
            # singleton
            (11, "unrelated singleton document mentioning catalyst optimizer"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("threshold", [0.0, 0.6, 0.95])
    @pytest.mark.parametrize("n", [1, 3])
    def test_factorized_equals_direct(self, spark, corpus, threshold, n):
        from simple_cdc_service_spark.operators.dedup import (
            minhash_dedup_pairs,
            shingle_docs,
        )

        fact = sorted(
            map(
                tuple,
                minhash_dedup_pairs(
                    corpus, n=n, threshold=threshold, factorize=True
                ).collect(),
            )
        )
        direct = sorted(
            map(
                tuple,
                minhash_dedup_pairs(
                    corpus,
                    n=n,
                    threshold=threshold,
                    shingled=shingle_docs(corpus, n=n),
                ).collect(),
            )
        )
        # adaptive default must agree with both (whichever branch the
        # measured ratio picks)
        adaptive = sorted(
            map(tuple, minhash_dedup_pairs(corpus, n=n, threshold=threshold).collect())
        )
        assert fact == direct == adaptive
        if threshold <= 0.6 and n == 3:
            ids = {frozenset(p[:2]) for p in fact}
            # clone groups fully paired, near-dup crosses into group 1
            for want in [{1, 4}, {1, 7}, {4, 7}, {3, 9}, {1, 2}]:
                assert frozenset(want) in ids

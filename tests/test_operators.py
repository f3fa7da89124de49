"""Operator-level tests with small inline data and known answers:
dedup (exact/minhash/simhash/ngram), similarity, text analysis,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from swanlake_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the old river bank tonight"),
    (3, "completely different content about spark engines and distributed query planning"),
    (4, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (5, "der hund läuft und das ist ein test von der sprache mit für auf"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


class TestExactDedup:
    def test_keeps_lowest_id(self, docs):
        kept = dedup.exact_dedup(docs)
        ids = sorted(r.doc_id for r in kept.collect())
        assert ids == [1, 2, 3, 5]  # 4 is an exact dup of 1

    def test_whitespace_normalized(self, spark):
        df = spark.createDataFrame(
            [(1, "a  b   c"), (2, "a b c"), (3, "A b c")], ["doc_id", "text"]
        )
        kept = dedup.exact_dedup(df)
        # whitespace collapse + lowercase → all three collapse to one
        assert sorted(r.doc_id for r in kept.collect()) == [1]


class TestNgramJaccard:
    def test_near_dup_found(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        got = {(r.a, r.b) for r in pairs}
        assert (1, 2) in got  # one-word difference
        assert (1, 4) in got  # exact dup
        assert all(3 not in p for p in got)  # unrelated doc not paired

    def test_jaccard_value_exact_dup(self, docs):
        pairs = {(r.a, r.b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs).collect()}
        assert pairs[(1, 4)] == 1.0


class TestMinhashLsh:
    def test_finds_planted_dups(self, docs):
        pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
        got = {(r.a, r.b) for r in pairs.collect()}
        assert (1, 4) in got  # identical docs always collide
        assert all(3 not in p and 5 not in p for p in got)

    def test_signature_shape(self, docs):
        sig = dedup.minhash_signature(docs, num_hashes=16).collect()
        assert all(len(r.sig) == 16 for r in sig)

    def test_deterministic(self, docs):
        a = sorted(map(tuple, dedup.minhash_signature(docs, num_hashes=8).collect()))
        b = sorted(map(tuple, dedup.minhash_signature(docs, num_hashes=8).collect()))
        assert a == b


class TestSimhash:
    def test_identical_docs_same_hash(self, docs):
        fps = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
        assert fps[1] == fps[4]

    def test_near_pairs(self, docs):
        pairs = dedup.simhash_near_pairs(docs, max_hamming=3).collect()
        got = {(r.a, r.b): r.hamming for r in pairs}
        assert got.get((1, 4)) == 0


class TestSimilarity:
    def test_topk_exact(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        top = similarity.cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()
        assert [r.vec_id for r in top] == [0, 1]
        assert top[0].sim == 1.0

    def test_lsh_topk_contains_exact_match(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = rows[17][1]
        top = similarity.cosine_topk_lsh(df, q, k=5, planes=6, dim=16).collect()
        assert top[0].vec_id == 17  # the vector itself lands in its own bucket
        assert top[0].sim == 1.0

    def test_ivf_assign_and_centroids(self, spark):
        # two obvious clusters around +x and +y
        rows = [(i, [1.0 + 0.01 * i, 0.0, 0.0]) for i in range(5)]
        rows += [(10 + i, [0.0, 1.0 + 0.01 * i, 0.0]) for i in range(5)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        cents = similarity.ivf_centroids(df, n_centroids=2, refine_iters=1)
        assert len(cents) == 2 and len(cents[0]) == 3
        assigned = similarity.ivf_assign(df, cents).collect()
        by_cid = {}
        for r in assigned:
            by_cid.setdefault(r._cid, set()).add(r.vec_id)
        # each cluster's members land together
        assert {frozenset(v) for v in by_cid.values()} == {
            frozenset(range(5)),
            frozenset(range(10, 15)),
        }

    def test_ivf_topk_recall(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = rows[42][1]
        exact = [r.vec_id for r in similarity.cosine_topk(df, q, k=5).collect()]
        approx = [
            r.vec_id
            for r in similarity.cosine_topk_ivf(
                df, q, k=5, n_centroids=8, n_probe=4
            ).collect()
        ]
        assert approx[0] == 42  # the vector itself is always found
        # probing half the lists should recover most of the exact top-5
        assert len(set(exact) & set(approx)) >= 3

    def test_ivf_deterministic(self, spark):
        rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(50)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = rows[3][1]
        a = similarity.cosine_topk_ivf(df, q, k=4, n_centroids=4).collect()
        b = similarity.cosine_topk_ivf(df, q, k=4, n_centroids=4).collect()
        assert a == b

    def test_near_pairs_exact_dup(self, spark):
        rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]), (2, [4.0, -3.0, 2.0, -1.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        pairs = similarity.cosine_near_pairs(df, threshold=0.99, planes=6, dim=4).collect()
        assert {(r.a, r.b) for r in pairs} == {(0, 1)}


class TestText:
    def test_token_count(self, spark):
        df = spark.createDataFrame([(1, "  a b   c  ")], ["doc_id", "text"])
        assert df.select(text.token_count("text").alias("n")).collect()[0].n == 3

    def test_quality_monotonic_in_length(self, spark):
        df = spark.createDataFrame(
            [(1, "the of and " * 30), (2, "zzz qqq")], ["doc_id", "text"]
        )
        rows = {r.doc_id: r.quality for r in text.quality_score(df).collect()}
        assert rows[1] > rows[2]

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat sat of the mat and it is that for a reason"),
                (2, "der hund und die katze das ist ein von mit für"),
                (3, "xyzzy plugh qwerty asdf"),
            ],
            ["doc_id", "text"],
        )
        rows = {r.doc_id: r.pred_lang for r in text.language_id(df).collect()}
        assert rows[1] == "en"
        assert rows[2] == "de"
        assert rows[3] == "und"

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world")], ["doc_id", "text"]
        )
        fps = [r.fp for r in df.select(text.fingerprint("text").alias("fp")).collect()]
        assert fps[0] == fps[1]
        assert len(fps[0]) == 16

    def test_quality_sql_text_matches_column_api_bitwise(self, spark):
        """The r12 SQL-text builds of quality_score/language_id must be
        bit-identical to the Column-API expressions they replaced — the
        double literals in the SQL text carry the D suffix, because a
        bare `64.0` parses as DECIMAL(3,1) and decimal division would
        silently move values computed near rounding boundaries."""
        import struct

        from pyspark.sql import functions as F

        from swanlake_spark.operators.text import STOPWORDS, tokens

        docs = [
            (1, "the quick brown fox jumps over a lazy dog of it"),
            (2, "the of and to in is that it for a " * 7),  # ~70 tokens
            (3, "word " * 63 + "the"),  # 64 tokens, length_term boundary
            (4, "zzz"),
            (5, None),
            (6, "der hund und die katze das ist ein von mit für"),
            (7, "the der el le"),  # 4-way language tie
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        t = tokens("text")
        c = F.col("text")
        sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        alpha_raw = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")) / F.length(c)
        stop_raw = (
            F.size(F.filter(t, lambda w: F.array_contains(sw, F.lower(w))))
            / F.size(t)
        )
        score = (
            0.4 * F.least(F.size(t) / F.lit(64.0), F.lit(1.0))
            + 0.3 * alpha_raw
            + 0.3 * F.least(stop_raw * 4, F.lit(1.0))
        )
        ref_quality = F.floor(score * 10000 + 0.5).cast("double") / 10000.0
        got = {
            r.doc_id: r.quality
            for r in text.quality_score(df).select("doc_id", "quality").collect()
        }
        want = {
            r.doc_id: r.q
            for r in df.select("doc_id", ref_quality.alias("q")).collect()
        }
        for k in want:
            a, b = want[k], got[k]
            if a is None or b is None:
                assert a is b, (k, a, b)
            else:
                assert struct.pack("<d", a) == struct.pack("<d", b), (k, a, b)

        # language_id: argmax + dict-order tie-break + 2% floor unchanged
        rows = {
            r.doc_id: r.pred_lang for r in text.language_id(df).collect()
        }
        assert rows[1] == "en"
        assert rows[6] == "de"
        assert rows[4] == "und"
        assert rows[5] == "und"
        assert rows[7] == "en"  # tie resolves to first language in dict order


class TestMultimodal:
    def test_synthesize_and_decode_real_headers(self, spark):
        base = spark.range(0, 30).withColumnRenamed("id", "doc_id")
        media = multimodal.synthesize_media(base)
        decoded = multimodal.decode_media(media)
        rows = {r.id: r for r in decoded.collect()}
        assert len(rows) == 30
        assert {r.media_type for r in rows.values()} == {"image", "audio", "video"}
        for rid, r in rows.items():
            if r.media_type == "audio":
                # dims come from the WAV header, not the metadata
                assert r.sample_rate == 16000 and r.width is None
            else:
                # dims come from the PPM header, not the metadata
                assert r.width == rid % 48 + 8
                assert r.height == rid % 32 + 8
                assert r.sample_rate is None

    def test_decode_deterministic(self, spark):
        base = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        a = sorted((r.id, r.checksum) for r in multimodal.decode_media(
            multimodal.synthesize_media(base)).collect())
        b = sorted((r.id, r.checksum) for r in multimodal.decode_media(
            multimodal.synthesize_media(base)).collect())
        assert a == b

    def test_strict_decoder_raises_on_unknown_format(self, spark):
        # PNG magic — outside the built-in numpy codec set
        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNG\r\n\x1a\nxxxxxxxx"), "image", None)],
            multimodal.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="Unsupported|unrecognized"):
            multimodal.decode_media_strict(df).collect()
        # non-strict: degrades to bytes-only record
        row = multimodal.decode_media(df).collect()[0]
        assert row.width is None and row.n_bytes == 16

    def test_decode_bmp_payload(self, spark):
        import numpy as np

        from swanlake_spark.operators import codecs

        px = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3)
        df = spark.createDataFrame(
            [(7, bytearray(codecs.encode_bmp(px)), "image", None)],
            multimodal.MEDIA_SCHEMA,
        )
        row = multimodal.decode_media(df).collect()[0]
        assert (row.width, row.height) == (4, 6)

    def test_feature_extraction_shape(self, spark):
        base = spark.range(0, 5).withColumnRenamed("id", "doc_id")
        feats = multimodal.extract_features(multimodal.synthesize_media(base)).collect()
        assert all(len(r.features) == multimodal.FEATURE_DIM for r in feats)
        s = sum(feats[0].features)
        assert abs(s - 1.0) < 1e-6  # L1 normalized

    def test_resize_plumbing(self, spark):
        from swanlake_spark.operators import multimodal

        docs = spark.createDataFrame(
            [(0, "some image content here"), (3, "another doc"), (1, "audio doc")],
            ["doc_id", "text"],
        )
        media = multimodal.synthesize_media(docs)  # ids 0,3 → image; 1 → audio
        out = multimodal.resize_images(media, width=8, height=4).collect()
        assert len(out) >= 1
        for r in out:
            assert r.width == 8 and r.height == 4
            assert len(r.pixels) == 8 * 4  # fixed-size byte plane
        # deterministic
        again = multimodal.resize_images(media, width=8, height=4).collect()
        assert sorted((r.id, r.pixels) for r in out) == sorted(
            (r.id, r.pixels) for r in again
        )

    def test_resize_real_resampling(self, spark):
        import numpy as np

        from swanlake_spark.operators import codecs

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        px[2:, :, :] = 200  # bottom half bright
        df = spark.createDataFrame(
            [(1, bytearray(codecs.encode_ppm(px)), "image", None)],
            multimodal.MEDIA_SCHEMA,
        )
        out = multimodal.resize_images(df, width=2, height=2).collect()[0]
        # nearest-neighbor over the real decoded plane: rows 0,2 × cols 0,2
        assert list(out.pixels) == [0, 0, 200, 200]

    def test_frame_sampling(self, spark):
        base = spark.range(0, 30).withColumnRenamed("id", "doc_id")
        media = multimodal.synthesize_media(base)
        frames = multimodal.sample_frames(media, every_k=10)
        per_doc = {
            r.id: r.cnt
            for r in frames.groupBy("id").agg(F.count("*").alias("cnt")).collect()
        }
        # doc_id=2 → n_frames=3 → frames 0 → 1 sample
        assert per_doc[2] == 1


class TestCompaction:
    def test_compact_small_files(self, engine, spark):
        import os
        import tempfile
        import uuid

        from swanlake_spark.maintenance import compact_table

        name = f"c_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_test_")
        engine.execute(f"CREATE TABLE {name} (id INT) USING parquet LOCATION '{loc}'")
        for i in range(6):  # 6 small appends → 6+ part files
            engine.execute(f"INSERT INTO {name} VALUES ({i})")
        before = engine.query(f"SELECT count(*) AS c FROM {name}").collect()[0].c
        stats = compact_table(spark, name, target_file_bytes=1 << 30, min_files=2)
        assert stats["compacted"]
        assert stats["files_after"] < stats["files_before"]
        after = engine.query(f"SELECT count(*) AS c FROM {name}").collect()[0].c
        assert after == before == 6


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        from swanlake_spark.operators.joins import salted_join

        # one hot key (90% of rows) + long tail
        skewed = spark.createDataFrame(
            [(1 if i < 900 else i, f"v{i}") for i in range(1000)], ["k", "v"]
        )
        dim = spark.createDataFrame(
            [(i, f"d{i}") for i in range(100)], ["k", "d"]
        )
        expected = sorted(
            (r.k, r.v, r.d) for r in skewed.join(dim, ["k"]).collect()
        )
        got = sorted(
            (r.k, r.v, r.d) for r in salted_join(skewed, dim, ["k"], salts=8).collect()
        )
        assert got == expected and len(got) == 900 + len([i for i in range(900, 1000) if i < 100])

    def test_left_join_and_salt_spread(self, spark):
        from pyspark.sql import functions as F

        from swanlake_spark.operators.joins import salted_join

        skewed = spark.createDataFrame([(7, i) for i in range(500)], ["k", "i"])
        dim = spark.createDataFrame([(7, "hot"), (8, "cold")], ["k", "d"])
        out = salted_join(skewed, dim, ["k"], how="left", salts=8)
        assert out.count() == 500
        # the hot key's rows really scatter across salts
        salt = F.pmod(F.xxhash64("k", "i"), F.lit(8))
        n_salts = skewed.select(salt.alias("s")).distinct().count()
        assert n_salts == 8

    def test_unsupported_how(self, spark):
        import pytest as _pytest

        from swanlake_spark.operators.joins import salted_join

        df = spark.createDataFrame([(1, 2)], ["k", "v"])
        with _pytest.raises(ValueError):
            salted_join(df, df, ["k"], how="full")


class TestAsofJoin:
    def test_backward_asof_semantics(self, spark):
        from swanlake_spark.operators.joins import asof_join

        l = spark.createDataFrame(
            [(1, 10, 100), (1, 20, 200), (2, 5, 500), (1, 8, 300)], ["k", "t", "v"]
        )
        r = spark.createDataFrame([(1, 8, 1), (1, 15, 2), (2, 9, 3)], ["k", "t", "p"])
        out = {(row.k, row.t): row.p_asof
               for row in asof_join(l, r, ["k"], "t", "t").collect()}
        # equal timestamps match (<=); no earlier right row -> NULL
        assert out == {(1, 8): 1, (1, 10): 1, (1, 20): 2, (2, 5): None}

    def test_asof_single_shuffle_plan(self, spark):
        import re

        from swanlake_spark.operators.joins import asof_join

        l = spark.createDataFrame([(1, 10, 100)], ["k", "t", "v"])
        r = spark.createDataFrame([(1, 8, 1)], ["k", "t", "p"])
        df = asof_join(l, r, ["k"], "t", "t")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # one window over the union — no join node, no range product
        assert "Join" not in plan, plan
        assert len(re.findall(r"Window", plan)) == 1, plan


class TestRangeJoin:
    def test_interval_membership(self, spark):
        from swanlake_spark.operators.joins import range_join

        points = spark.createDataFrame(
            [(1, 5.0), (2, 45.0), (3, 125.0), (4, 999.0)], ["pid", "v"]
        )
        bands = spark.createDataFrame(
            [("low", 0.0, 50.0), ("mid", 40.0, 150.0), ("neg", -10.0, -1.0)],
            ["band", "lo", "hi"],
        )
        out = range_join(points, bands, "v", "lo", "hi", bin_width=25.0)
        got = {(r.pid, r.band) for r in out.collect()}
        # overlapping bands both match 45.0; 999 matches nothing
        assert got == {(1, "low"), (2, "low"), (2, "mid"), (3, "mid")}

    def test_no_cartesian_in_plan(self, spark):
        from swanlake_spark.operators.joins import range_join

        points = spark.createDataFrame([(1, 5.0)], ["pid", "v"])
        bands = spark.createDataFrame([("low", 0.0, 50.0)], ["band", "lo", "hi"])
        df = range_join(points, bands, "v", "lo", "hi", bin_width=10.0)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Cartesian" not in plan and "NestedLoop" not in plan, plan

    def test_matches_plain_between_join(self, spark):
        import random

        from swanlake_spark.operators.joins import range_join

        rnd = random.Random(5)
        points = spark.createDataFrame(
            [(i, rnd.uniform(0, 1000)) for i in range(200)], ["pid", "v"]
        )
        bands = spark.createDataFrame(
            [(b, lo := rnd.uniform(0, 900), lo + rnd.uniform(10, 200))
             for b in range(20)],
            ["band", "lo", "hi"],
        )
        fast = {(r.pid, r.band) for r in
                range_join(points, bands, "v", "lo", "hi", bin_width=50.0).collect()}
        slow = {(r.pid, r.band) for r in
                points.crossJoin(bands)
                .filter("v >= lo AND v <= hi").collect()}
        assert fast == slow


class TestConnectedComponents:
    def test_chain_and_clique_and_singleton(self, spark):
        # chain 1-2-3 (1~3 never emitted), clique 10-11-12, isolated 99
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12)], ["a", "b"]
        )
        nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], ["id"])
        got = {
            (r.node, r.comp)
            for r in dedup.connected_components(edges, nodes=nodes).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1),
            (10, 10), (11, 10), (12, 10),
            (99, 99),
        }

    def test_long_chain_converges(self, spark):
        # diameter 12 — requires multiple propagation rounds
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], ["a", "b"]
        )
        got = dedup.connected_components(edges).collect()
        assert all(r.comp == 0 for r in got) and len(got) == 13

    def test_hundred_node_chain_within_iteration_cap(self, spark):
        """Diameter-99 chain: pure one-hop min-propagation would need 99
        rounds and silently blow max_iterations=30; the pointer-jumping
        step compresses label paths geometrically, so the default cap
        must suffice with a wide margin (~8 rounds). Run with the cap
        tightened to 15 to prove convergence, not just the default."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], ["a", "b"]
        )
        got = dedup.connected_components(edges, max_iterations=15).collect()
        assert len(got) == 100
        assert all(r.comp == 0 for r in got)

    def test_iteration_cap_binds(self, spark):
        """max_iterations is a hard stop: with the cap far below what a
        100-chain needs, the far end of the chain must NOT have reached
        the global min yet (the early-exit can't have fired)."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], ["a", "b"]
        )
        got = {
            r.node: r.comp
            for r in dedup.connected_components(edges, max_iterations=2).collect()
        }
        assert got[99] != 0  # not converged under the cap
        # labels only ever decrease and never leave the component
        assert all(0 <= c <= n for n, c in got.items())

    def test_two_chains_stay_separate(self, spark):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)]
            + [(i, i + 1) for i in range(100, 130)],
            ["a", "b"],
        )
        got = {r.node: r.comp for r in dedup.connected_components(edges).collect()}
        assert all(got[n] == 0 for n in range(31))
        assert all(got[n] == 100 for n in range(100, 131))

    def test_dedup_groups_canonical(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).select("a", "b")
        out = {r.doc_id: (r.comp, r.is_canonical)
               for r in dedup.dedup_groups(docs, pairs).collect()}
        # docs 1,2,4 are near-dups → one cluster with canonical 1
        assert out[1] == (1, True)
        assert out[2] == (1, False)
        assert out[4] == (1, False)
        assert out[3] == (3, True) and out[5] == (5, True)


class TestSampling:
    def test_bernoulli_deterministic_and_sized(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s1 = {r.doc_id for r in sampling.bernoulli_sample(df, 0.25).collect()}
        s2 = {r.doc_id for r in
              sampling.bernoulli_sample(df.repartition(7), 0.25).collect()}
        assert s1 == s2  # layout-independent membership
        assert 0.18 < len(s1) / 2000 < 0.32
        # different salt → a different (decorrelated) sample
        s3 = {r.doc_id for r in
              sampling.bernoulli_sample(df, 0.25, salt="v2").collect()}
        assert s3 != s1

    def test_stratified_exact_k(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, "en" if i % 3 else "fr") for i in range(90)],
            ["doc_id", "lang"],
        )
        out = sampling.stratified_sample(df, ["lang"], k=7).collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r.lang, set()).add(r.doc_id)
        assert len(by_lang["en"]) == 7 and len(by_lang["fr"]) == 7
        # small stratum: returns the whole stratum, not an error
        tiny = spark.createDataFrame([(1, "zh"), (2, "zh")], ["doc_id", "lang"])
        assert len(sampling.stratified_sample(tiny, ["lang"], k=7).collect()) == 2

    def test_stratified_auto_prefilter_identical_pick(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, f"s{i % 4}") for i in range(4000)], ["doc_id", "lang"]
        )
        plain = {
            (r.lang, r.doc_id)
            for r in sampling.stratified_sample(df, ["lang"], k=25).collect()
        }
        fast = {
            (r.lang, r.doc_id)
            for r in sampling.stratified_sample(
                df, ["lang"], k=25, auto_prefilter=True
            ).collect()
        }
        assert fast == plain and len(fast) == 100

    def test_stratified_prefilter_fallback_still_exact(self, spark):
        from swanlake_spark.operators import sampling

        # slack ~0 forces the pre-filter to cut below k survivors in
        # every stratum: the detect-and-recompute path must still
        # produce the true top-k picks
        df = spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(900)], ["doc_id", "lang"]
        )
        plain = {
            (r.lang, r.doc_id)
            for r in sampling.stratified_sample(df, ["lang"], k=10).collect()
        }
        forced = {
            (r.lang, r.doc_id)
            for r in sampling.stratified_sample(
                df, ["lang"], k=10, auto_prefilter=True,
                _prefilter_slack=0.01,
            ).collect()
        }
        assert forced == plain

    def test_split_disjoint_exhaustive(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        out = sampling.train_test_split(df, 0.1).collect()
        assert len(out) == 1000
        n_test = sum(1 for r in out if r.split == "test")
        assert 50 < n_test < 160
        assert all(r.split in ("train", "test") for r in out)


class TestPacking:
    def test_offsets_match_serial_scan(self, spark):
        from swanlake_spark.operators import packing

        rows = [(i, (i * 37) % 900 + 1) for i in range(200)]
        df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        got = {r.doc_id: (r.start_off, r.pack_id, r.pack_off)
               for r in packing.pack_sequences(df, ctx_len=512, buckets=8).collect()}
        off = 0
        for i, n in rows:
            assert got[i] == (off, off // 512, off % 512), (i, got[i], off)
            off += n

    def test_bucket_count_invariance(self, spark):
        from swanlake_spark.operators import packing

        df = spark.createDataFrame(
            [(i, i % 50 + 1) for i in range(300)], ["doc_id", "n_tokens"]
        )
        a = sorted(map(tuple, packing.pack_sequences(df, 256, buckets=4).collect()))
        b = sorted(map(tuple, packing.pack_sequences(df, 256, buckets=64).collect()))
        assert a == b

    def test_pack_summary_covers_all_tokens(self, spark):
        from swanlake_spark.operators import packing

        df = spark.createDataFrame(
            [(i, 100) for i in range(50)], ["doc_id", "n_tokens"]
        )
        packed = packing.pack_sequences(df, ctx_len=512)
        summ = packing.pack_summary(packed, ctx_len=512).collect()
        # every pack a doc starts in appears; token counts clamp at pack end
        assert sum(r.n_docs for r in summ) == 50
        assert all(r.tokens_here <= 512 for r in summ)


class TestCuration:
    def test_pii_redact_counts_and_text(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [
                (1, "mail bob@example.com twice: alice.w+x@sub.org rest"),
                (2, "ssn 123-45-6789 ip 10.0.0.1 card 4111 1111 1111 1111"),
                (3, "call 555-867-5309 or 555.867.5309"),
                (4, "no pii here at all"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in curation.pii_redact(df).collect()}
        assert out[1].n_email == 2
        assert "<EMAIL>" in out[1].text_redacted
        assert "@" not in out[1].text_redacted
        assert (out[2].n_ssn, out[2].n_ipv4, out[2].n_card) == (1, 1, 1)
        assert out[2].text_redacted == "ssn <SSN> ip <IP> card <CC>"
        assert out[3].n_phone == 2
        assert out[3].text_redacted == "call <PHONE> or <PHONE>"
        assert out[4].text_redacted == "no pii here at all"
        assert sum([out[4].n_email, out[4].n_ssn, out[4].n_ipv4,
                    out[4].n_card, out[4].n_phone]) == 0

    def test_repetition_flags_spam(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [(1, "buy now buy now buy now buy now"),
             (2, "eight completely distinct words appear exactly once here")],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in curation.repetition_scores(df).collect()}
        assert out[1].uniq_1gram_ratio == 0.25  # 2 distinct / 8
        assert out[1].uniq_2gram_ratio < 0.3    # "buy now"/"now buy" repeat
        assert out[1].top_token_frac == 0.5
        assert out[2].uniq_1gram_ratio == 1.0
        assert out[2].uniq_2gram_ratio == 1.0
        assert out[2].top_token_frac == 0.125

    def test_decontaminate_flags_overlap_only(self, spark):
        from swanlake_spark.operators import curation

        bench = spark.createDataFrame(
            [(100, "the secret benchmark answer is forty two exactly")],
            ["doc_id", "text"],
        )
        corpus = spark.createDataFrame(
            [
                # contains the benchmark 6-gram "secret benchmark answer is forty two"
                (1, "we know the secret benchmark answer is forty two exactly ok"),
                (2, "totally unrelated corpus document with original content words"),
            ],
            ["doc_id", "text"],
        )
        out = curation.decontaminate(corpus, bench, n=6).collect()
        assert [r.doc_id for r in out] == [1]
        assert out[0].n_hits >= 1 and out[0].n_bench_docs == 1

    def test_domain_mix_rates_and_determinism(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [(i, f"src{i % 3}") for i in range(3000)], ["doc_id", "source"]
        )
        kept = curation.domain_mix(df, {"src0": 0.5, "src1": 0.0})
        by = {r.source: r["count"] for r in kept.groupBy("source").count().collect()}
        assert "src1" not in by                 # rate 0 → dropped entirely
        assert by["src2"] == 1000               # default rate 1.0 → all kept
        assert 380 < by["src0"] < 620           # ~50% of 1000
        # layout-independent membership
        a = {r.doc_id for r in kept.collect()}
        b = {r.doc_id for r in
             curation.domain_mix(df.repartition(13),
                                 {"src0": 0.5, "src1": 0.0}).collect()}
        assert a == b

    def test_shuffle_is_stable_permutation(self, spark):
        from swanlake_spark.operators import curation

        df = spark.range(0, 1500).withColumnRenamed("id", "doc_id")
        out = curation.deterministic_shuffle(df, buckets=32).collect()
        pos = sorted(r.shuffle_pos for r in out)
        assert pos == list(range(1500))  # exact permutation, no gaps/dups
        m1 = {r.doc_id: r.shuffle_pos for r in out}
        # invariant under partition layout AND bucket count
        m2 = {r.doc_id: r.shuffle_pos for r in
              curation.deterministic_shuffle(df.repartition(11),
                                             buckets=256).collect()}
        assert m1 == m2
        # a different seed produces a genuinely different permutation
        m3 = {r.doc_id: r.shuffle_pos for r in
              curation.deterministic_shuffle(df, seed="epoch2").collect()}
        assert m3 != m1


class TestLineDedupAndChunking:
    def test_line_dedup_first_occurrence_wins(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [
                (1, "alpha\nshared line\nbeta"),
                (2, "shared line\ngamma"),
                (3, "shared line"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in curation.line_dedup(df).collect()}
        assert out[1].text == "alpha\nshared line\nbeta"
        assert (out[1].n_kept, out[1].n_dropped) == (3, 0)
        assert out[2].text == "gamma"
        assert (out[2].n_kept, out[2].n_dropped) == (1, 1)
        # every non-blank line claimed elsewhere -> document drops out
        assert 3 not in out

    def test_line_dedup_blank_lines_pass_through(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [(1, "a\n\nb"), (2, "c\n\nd")],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in curation.line_dedup(df).collect()}
        assert out[1].text == "a\n\nb"
        assert out[2].text == "c\n\nd"

    def test_line_dedup_intra_document_repeats_collapse(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame([(1, "x\ny\nx")], ["doc_id", "text"])
        out = curation.line_dedup(df).collect()[0]
        assert out.text == "x\ny"
        assert (out.n_kept, out.n_dropped) == (2, 1)

    def test_chunk_documents_windows_and_overlap(self, spark):
        from swanlake_spark.operators import curation

        df = spark.createDataFrame(
            [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "short text")],
            ["doc_id", "text"],
        )
        rows = (
            curation.chunk_documents(df, chunk_tokens=4, overlap=2)
            .orderBy("doc_id", "chunk_id")
            .collect()
        )
        d1 = [r for r in rows if r.doc_id == 1]
        assert [r.chunk_text for r in d1] == [
            "t0 t1 t2 t3",
            "t2 t3 t4 t5",
            "t4 t5 t6",
        ]
        assert [r.n_tokens for r in d1] == [4, 4, 3]
        # consecutive chunks share exactly `overlap` tokens
        assert d1[0].chunk_text.split()[-2:] == d1[1].chunk_text.split()[:2]
        d2 = [r for r in rows if r.doc_id == 2]
        assert len(d2) == 1 and d2[0].chunk_text == "short text"

    def test_chunk_documents_rejects_bad_overlap(self, spark):
        from swanlake_spark.errors import InvalidArgument
        from swanlake_spark.operators import curation

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with pytest.raises(InvalidArgument):
            curation.chunk_documents(df, chunk_tokens=4, overlap=4)


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def test_codebooks_shape_and_determinism(self, emb):
        from swanlake_spark.operators import similarity

        b1 = similarity.pq_codebooks(emb, m=8, k=4, dim=64)
        b2 = similarity.pq_codebooks(emb, m=8, k=4, dim=64)
        assert len(b1) == 8 and all(len(s) == 4 for s in b1)
        assert all(len(c) == 8 for s in b1 for c in s)  # 64/8 dims
        assert b1 == b2

    def test_encode_is_narrow_and_bounded(self, spark, emb):
        from swanlake_spark.operators import similarity

        books = similarity.pq_codebooks(emb, m=8, k=4, dim=64)
        coded = similarity.pq_encode(emb, books)
        rows = coded.select("pq_code").limit(20).collect()
        assert all(len(r.pq_code) == 8 for r in rows)
        assert all(0 <= c < 4 for r in rows for c in r.pq_code)
        # narrow: no exchange in the encode plan
        plan = coded._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_adc_recall_vs_exact(self, emb):
        from swanlake_spark.operators import similarity

        qrow = emb.orderBy("vec_id").first()
        q = [float(x) for x in qrow.embedding]
        books = similarity.pq_codebooks(emb, m=8, k=16, dim=64)
        coded = similarity.pq_encode(emb, books)
        approx = {
            r.vec_id
            for r in similarity.pq_topk(coded, q, books, k=10).collect()
        }
        # exact L2 top-10 (ADC approximates L2 distance)
        from pyspark.sql import functions as F

        qlit = F.array(*[F.lit(x) for x in q])
        d = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                qlit,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        exact = {
            r.vec_id
            for r in emb.select("vec_id", d.alias("d"))
            .orderBy(F.col("d").asc(), F.col("vec_id"))
            .limit(10)
            .collect()
        }
        recall = len(approx & exact) / 10
        assert qrow.vec_id in approx  # the query itself must be found
        assert recall >= 0.3, f"ADC recall {recall} too low"

    def test_dim_not_divisible_rejected(self, emb):
        from swanlake_spark.errors import InvalidArgument
        from swanlake_spark.operators import similarity

        with pytest.raises(InvalidArgument):
            similarity.pq_codebooks(emb, m=7, k=4, dim=64)


class TestZorderClustering:
    def _file_ranges(self, spark, table, col):
        """Per-file (min, max) of `col` from the parquet footers."""
        import pyarrow.parquet as pq

        out = []
        for f in spark.table(table).inputFiles():
            md = pq.ParquetFile(f.replace("file:", "")).metadata
            mn, mx = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        mn = s.min if mn is None else min(mn, s.min)
                        mx = s.max if mx is None else max(mx, s.max)
            if mn is not None:
                out.append((mn, mx))
        return out

    def test_cluster_tightens_file_ranges_on_both_columns(self, engine, spark):
        import tempfile
        import uuid

        from pyspark.sql import functions as F

        from swanlake_spark.maintenance import cluster_table

        name = f"z_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_zord_")
        engine.execute(
            f"CREATE TABLE {name} (a BIGINT, b BIGINT, v STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        n = 40_000
        # rows arrive in an order uncorrelated with both keys
        (
            spark.range(n)
            .select(
                ((F.col("id") * 7919) % n).alias("a"),
                ((F.col("id") * 104729) % n).alias("b"),
                F.md5(F.col("id").cast("string")).alias("v"),
            )
            .repartition(8)
            .write.insertInto(name)
        )

        def overlap_fraction(col):
            ranges = self._file_ranges(spark, name, col)
            width = sum(mx - mn for mn, mx in ranges)
            return width / ((n - 1) * len(ranges))

        before_a, before_b = overlap_fraction("a"), overlap_fraction("b")
        stats = cluster_table(
            spark, name, ["a", "b"], target_file_bytes=64 * 1024
        )
        assert stats["clustered"]
        after_a, after_b = overlap_fraction("a"), overlap_fraction("b")
        # random layout: every file spans ~the full domain (~1.0).
        # Z-order: each file covers a fraction of BOTH dimensions.
        assert before_a > 0.9 and before_b > 0.9
        # ~32 files -> 5 z-prefix bits -> each file spans ~1/8 of one
        # dimension and ~1/4 of the other (plus boundary straddle)
        assert after_a < 0.55 and after_b < 0.55, (after_a, after_b)
        assert after_a + after_b < 0.75 * (before_a + before_b)
        # contents unchanged
        total = engine.query(f"SELECT count(*) c, sum(a) sa FROM {name}").collect()[0]
        assert (total.c, total.sa) == (n, n * (n - 1) // 2)

    def test_cluster_rejects_partitioned_table(self, engine, spark):
        import tempfile
        import uuid

        from swanlake_spark.errors import InvalidArgument
        from swanlake_spark.maintenance import cluster_table

        name = f"zp_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_zordp_")
        engine.execute(
            f"CREATE TABLE {name} (id INT, p INT) USING parquet "
            f"PARTITIONED BY (p) LOCATION '{loc}'"
        )
        with pytest.raises(InvalidArgument):
            cluster_table(spark, name, ["id"])

    def test_optimize_sql_statement(self, engine, spark):
        import tempfile
        import uuid

        from pyspark.sql import functions as F

        name = f"zs_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_zsql_")
        engine.execute(
            f"CREATE TABLE {name} (a BIGINT, b BIGINT) USING parquet "
            f"LOCATION '{loc}'"
        )
        (
            spark.range(5000)
            .select(
                ((F.col("id") * 7919) % 5000).alias("a"),
                ((F.col("id") * 104729) % 5000).alias("b"),
            )
            .repartition(6)
            .write.insertInto(name)
        )
        row = engine.query(
            f"OPTIMIZE {name} ZORDER BY (a, b)"
        ).collect()[0]
        assert row.clustered and row.zorder_by == "a,b"
        assert engine.query(f"SELECT count(*) c FROM {name}").collect()[0][0] == 5000
        # plain OPTIMIZE = compaction spelling
        row = engine.query(f"OPTIMIZE {name}").collect()[0]
        assert row.table.endswith(name)


class TestVacuum:
    def test_vacuum_reclaims_aged_staging(self, engine, spark):
        import os
        import tempfile
        import uuid

        name = f"vac_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_vac_") + "/tbl"
        engine.execute(
            f"CREATE TABLE {name} (id INT) USING parquet LOCATION '{loc}'"
        )
        engine.execute(f"INSERT INTO {name} VALUES (1), (2)")
        # simulate a crashed writer: an orphaned staged dir + stale lock
        root = os.path.dirname(loc) + "/_staging"
        os.makedirs(f"{root}/deadbeef", exist_ok=True)
        with open(f"{root}/deadbeef/part-0.parquet", "wb") as f:
            f.write(b"x" * 128)
        with open(f"{root}/{name}.writelock", "w") as f:
            f.write("999999")
        old = 10**9  # set mtimes far in the past
        os.utime(f"{root}/deadbeef", (old, old))
        os.utime(f"{root}/{name}.writelock", (old, old))

        row = engine.query(f"VACUUM {name} RETAIN 60 SECONDS").collect()[0]
        assert row.staging_dirs_removed == 1
        assert row.locks_removed == 1
        assert row.bytes >= 128
        assert not os.path.exists(f"{root}/deadbeef")
        # table contents untouched
        assert engine.query(f"SELECT count(*) c FROM {name}").collect()[0][0] == 2

    def test_vacuum_age_guard_protects_fresh_staging(self, engine, spark):
        import os
        import tempfile
        import uuid

        name = f"vac_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_vac_") + "/tbl"
        engine.execute(
            f"CREATE TABLE {name} (id INT) USING parquet LOCATION '{loc}'"
        )
        root = os.path.dirname(loc) + "/_staging"
        os.makedirs(f"{root}/inflight", exist_ok=True)
        row = engine.query(f"VACUUM {name}").collect()[0]
        assert row.staging_dirs_removed == 0
        assert os.path.exists(f"{root}/inflight")

    def test_vacuum_sweeps_young_dead_holder_lock(self, engine, spark):
        """A dead-holder lock YOUNGER than the VACUUM retention age is
        still debris — the liveness sweep (r9) reclaims it where the
        age-only path would have kept it for min_age_s."""
        import os
        import socket
        import tempfile
        import time
        import uuid

        name = f"vac_{uuid.uuid4().hex[:8]}"
        loc = tempfile.mkdtemp(prefix="swl_vac_") + "/tbl"
        engine.execute(
            f"CREATE TABLE {name} (id INT) USING parquet LOCATION '{loc}'"
        )
        root = os.path.dirname(loc) + "/_staging"
        os.makedirs(root, exist_ok=True)
        dead = 99999
        while True:
            try:
                os.kill(dead, 0)
                dead += 7
            except ProcessLookupError:
                break
            except PermissionError:
                dead += 7
        p = f"{root}/{name}.cafecafecafe.writelock"
        with open(p, "w") as f:
            f.write(f"{dead}\n{socket.gethostname()}")
        # 60 s old: past the stale guard, far under the 3600 s age
        os.utime(p, (time.time() - 60, time.time() - 60))
        row = engine.query(f"VACUUM {name}").collect()[0]
        assert row.locks_removed == 1
        assert not os.path.exists(p)


class TestValidation:
    """operators/validate: expectations in one agg pass + quarantine
    split (generalizes the reference's PK ingest gate,
    error_status.test:11-13)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "a@x.com", 10.0, "ok"),
                (2, None, 500.0, "ok"),
                (3, "bad-email", -4.0, "bad"),
                (3, "c@x.com", 20.0, "weird"),
                (None, "d@x.com", 30.0, "ok"),
            ],
            "id int, email string, amount double, status string",
        )

    def test_validate_single_pass_rules(self, spark):
        from swanlake_spark.operators import validate as V

        res = V.validate(self._df(spark), [
            V.rules.not_null("id"),
            V.rules.unique("id"),
            V.rules.in_range("amount", lo=0.0),
            V.rules.matches("email", "^[^@]+@[^@]+$"),
            V.rules.in_set("status", "ok", "bad"),
        ]).collect()
        got = {r.rule: (r.violations, r.checked, r.passed) for r in res}
        assert got["not_null_id"] == (1, 5, False)
        assert got["unique_id"] == (1, 5, False)  # id=3 twice
        assert got["range_amount"] == (1, 5, False)  # -4.0
        assert got["matches_email"] == (1, 5, False)  # bad-email; NULL passes
        assert got["in_set_status"] == (1, 5, False)  # weird

    def test_ref_integrity_broadcast_anti_join(self, spark):
        from swanlake_spark.operators import validate as V

        dim = spark.createDataFrame([(1,), (2,)], "k int")
        res = V.validate(self._df(spark), [
            V.rules.ref_integrity("id", dim, "k"),
        ]).collect()
        # ids present: 1,2,3,3 (NULL skipped) -> orphans: the two 3s
        assert res[0].violations == 2 and res[0].checked == 4

    def test_quarantine_tags_failed_rules(self, spark):
        from swanlake_spark.operators import validate as V

        good, bad = V.quarantine(self._df(spark), [
            V.rules.not_null("id"),
            V.rules.in_range("amount", lo=0.0),
            V.rules.in_set("status", "ok", "bad"),
        ])
        assert good.count() == 2  # rows (1, 'ok') and (2, 'ok')
        tags = {
            (r.id, tuple(r._violations)) for r in bad.collect()
        }
        assert tags == {
            (3, ("range_amount",)),     # -4.0
            (3, ("in_set_status",)),    # 'weird'
            (None, ("not_null_id",)),
        }

    def test_validate_plan_is_single_aggregate(self, spark):
        """All row-local rules must compile into ONE scan: the agg plan
        contains exactly one FileScan/LocalTableScan leg."""
        from pyspark.sql import functions as F

        df = self._df(spark)
        plan = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0)).alias("v0"),
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan") <= 2  # single source, no re-scans


class TestSemanticDedup:
    """SemDeDup (cluster-bounded pairwise semantic dedup) verified
    against an independent numpy reference: same centroids → identical
    assignments, identical within-cluster drop set."""

    def _ref(self, ids, V, cents, threshold):
        import numpy as np

        C = np.asarray(cents, dtype=float)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        cid = np.argmax(Vn @ Cn.T, axis=1)
        drop = set()
        for c in set(cid.tolist()):
            members = [i for i in range(len(ids)) if cid[i] == c]
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    sim = round(float(Vn[i] @ Vn[j]), 4)
                    if sim >= threshold:
                        drop.add(ids[max(i, j, key=lambda k: ids[k])])
        return drop

    def test_matches_numpy_reference(self, spark, sf_dir):
        import numpy as np
        from pyspark.sql import functions as F

        from swanlake_spark.operators import dedup, similarity

        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
        # synthetic semantic duplicates: scaled copies of every 5th
        # vector (cosine exactly 1.0 to the original) under new ids —
        # random synthetic embeddings are near-orthogonal, so without
        # these nothing would ever cross a meaningful threshold
        clones = base.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(1.25)
            ).alias("embedding"),
            "label",
        )
        emb = base.unionByName(clones)
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r.vec_id for r in rows]
        V = np.array([list(r.embedding) for r in rows], dtype=float)
        cents = similarity.ivf_centroids(emb, 8)
        kept = dedup.semantic_dedup(
            emb, threshold=0.95, n_clusters=8, centroids=cents
        )
        got_kept = {r.vec_id for r in kept.select("vec_id").collect()}
        ref_drop = self._ref(ids, V, cents, 0.95)
        assert got_kept == set(ids) - ref_drop
        assert len(ref_drop) >= 30, "clones must actually dedup"

    def test_pair_join_is_cluster_bounded(self, spark, sf_dir):
        """The only join must be the _cid equi-join — no cross product
        in the plan."""
        from swanlake_spark.operators import dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
        kept = dedup.semantic_dedup(emb, threshold=0.9, n_clusters=4)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestEventAnalytics:
    def test_sessionize_gap_boundary(self, spark):
        """An inter-event gap EXACTLY equal to the threshold does NOT
        start a new session (strictly-greater semantics, matching the
        oracle SQL); one microsecond over does."""
        from swanlake_spark.operators import events as EV

        rows = [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),          # gap == 30 min → same
            (1, "2024-01-01 01:00:00.000001"),   # 1 µs over → new
            (2, "2024-01-01 00:00:00"),          # other user independent
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        s = EV.sessionize_batch(df, gap_minutes=30.0)
        got = {
            (r.user_id, str(r.ts), r.session_id)
            for r in s.collect()
        }
        sess = {r.session_id for r in s.filter("user_id = 1").collect()}
        assert sess == {"1-1", "1-2"}
        assert ("2", ) not in got  # sanity: user 2 got its own 2-1
        assert {r.session_id for r in s.filter("user_id = 2").collect()} == {
            "2-1"
        }

    def test_funnel_requires_order(self, spark):
        """A user who purchases BEFORE viewing does not count for the
        view→purchase step."""
        from swanlake_spark.operators import events as EV

        rows = [
            (1, "2024-01-01 00:00:00", "signup"),
            (1, "2024-01-01 00:01:00", "purchase"),  # too early
            (1, "2024-01-01 00:02:00", "view"),
            (2, "2024-01-01 00:00:00", "signup"),
            (2, "2024-01-01 00:01:00", "view"),
            (2, "2024-01-01 00:02:00", "purchase"),
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.step, r.users)
            for r in EV.funnel(
                df, ["signup", "view", "purchase"]
            ).collect()
        }
        assert out == {("signup", 2), ("view", 2), ("purchase", 1)}

    def test_funnel_conversion_window(self, spark):
        """within_s bounds later steps to the user's step-0 time."""
        from swanlake_spark.operators import events as EV

        rows = [
            (1, "2024-01-01 00:00:00", "signup"),
            (1, "2024-01-01 00:30:00", "view"),      # inside 1h window
            (2, "2024-01-01 00:00:00", "signup"),
            (2, "2024-01-01 02:00:00", "view"),      # outside window
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.step, r.users)
            for r in EV.funnel(
                df, ["signup", "view"], within_s=3600.0
            ).collect()
        }
        assert out == {("signup", 2), ("view", 1)}
        # without the window both convert
        out2 = {
            (r.step, r.users)
            for r in EV.funnel(df, ["signup", "view"]).collect()
        }
        assert out2 == {("signup", 2), ("view", 2)}

    def test_funnel_late_qualifier_counts(self, spark):
        """A user whose EARLY step-1 events all precede step 0 but
        whose late one qualifies must convert — the case an
        earliest-K per-(user, step) cap would get wrong (why the
        bounded plan uses conditional-min joins, not capped arrays)."""
        from swanlake_spark.operators import events as EV

        rows = [(1, "2024-01-01 00:00:10", "signup")] + [
            (1, f"2024-01-01 00:00:{s:02d}", "view") for s in range(8)
        ] + [(1, "2024-01-01 00:01:00", "view")]  # only qualifying view
        df = spark.createDataFrame(
            rows, "user_id int, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.step, r.users)
            for r in EV.funnel(df, ["signup", "view"]).collect()
        }
        assert out == {("signup", 1), ("view", 1)}

    def test_funnel_hot_user_skew(self, spark):
        """A bot-grade user with 200k events of one step type streams
        through scalar min buffers (and still converts exactly once)."""
        from swanlake_spark.operators import events as EV

        base = spark.range(200_000).select(
            F.lit(7).alias("user_id"),
            (
                F.lit("2024-01-01 01:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id").cast("double"))
            ).alias("ts"),
            F.lit("view").alias("event_type"),
        )
        head = spark.createDataFrame(
            [
                (7, "2024-01-01 00:00:00", "signup"),
                (8, "2024-01-01 00:00:00", "signup"),  # no view: drops out
            ],
            "user_id int, ts string, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df = head.unionByName(base)
        out = {
            (r.step, r.users)
            for r in EV.funnel(df, ["signup", "view"]).collect()
        }
        assert out == {("signup", 2), ("view", 1)}

    def test_retention_monthly_cohorts(self, spark):
        from swanlake_spark.operators import events as EV

        rows = [
            (1, "2024-01-05 10:00:00"),
            (1, "2024-02-10 10:00:00"),   # month offset 1
            (1, "2024-04-01 10:00:00"),   # month offset 3
            (2, "2024-02-01 10:00:00"),   # Feb cohort
            (2, "2024-03-15 10:00:00"),   # offset 1
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            (str(r.cohort)[:7], r.offset, r.users)
            for r in EV.retention(df, period="month").collect()
        }
        assert got == {
            ("2024-01", 0, 1),
            ("2024-01", 1, 1),
            ("2024-01", 3, 1),
            ("2024-02", 0, 1),
            ("2024-02", 1, 1),
        }


class TestSelectTopTokens:
    """curation.select_top_tokens: greedy quality-ranked selection
    under a token budget via the banded distributed prefix sum — must
    equal the naive global-sort cumulative exactly, on any layout."""

    def _docs(self, spark):
        rows = [
            # (id, text) — engineered quality spread: long clean text
            # ranks high, short/garbage ranks low
            (1, "the cat sat of the mat and it is that good for all " * 4),
            (2, "zzz qqq xxx"),
            (3, "a of the and to in is that it for the quick brown fox " * 3),
            (4, "!!!! ???? ####"),
            (5, "the road to the north is long and it winds for days " * 2),
            (6, "k"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _naive(self, spark, df, budget):
        from pyspark.sql import functions as F

        from swanlake_spark.operators import text as TX
        from swanlake_spark.operators.text import tokens

        q = TX.quality_score(df).select(
            "doc_id",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
            "quality",
        ).collect()
        q.sort(key=lambda r: (-r.quality, r.doc_id))
        out, cum = {}, 0
        for r in q:
            cum += r.n_tokens
            if cum > budget:
                break
            out[r.doc_id] = (r.n_tokens, cum)
        return out

    def test_matches_naive_and_layout_independent(self, spark):
        from swanlake_spark.operators import curation

        df = self._docs(spark)
        for budget in (10, 60, 200, 10_000):
            want = self._naive(spark, df, budget)
            got = {
                r.doc_id: (r.n_tokens, r.cum_tokens)
                for r in curation.select_top_tokens(
                    df, budget, buckets=8
                ).collect()
            }
            assert got == want, budget
            # repartitioned input, different bucket count: same answer
            got2 = {
                r.doc_id: (r.n_tokens, r.cum_tokens)
                for r in curation.select_top_tokens(
                    df.repartition(5), budget, buckets=3
                ).collect()
            }
            assert got2 == want, budget

    def test_precomputed_score_column(self, spark):
        from pyspark.sql import functions as F

        from swanlake_spark.operators import curation

        df = self._docs(spark).withColumn(
            "myq", (F.col("doc_id") % 3).cast("double") / 2.0
        )
        got = {
            r.doc_id: (r.n_tokens, r.cum_tokens)
            for r in curation.select_top_tokens(
                df, 120, quality_col="myq"
            ).collect()
        }
        # naive check over the precomputed score (desc, id tiebreak);
        # boundary scores (0.0, 1.0) must clamp into valid buckets,
        # not drop rows
        rows = df.selectExpr(
            "doc_id", "size(split(trim(text), '\\\\s+')) AS n", "myq"
        ).collect()
        rows.sort(key=lambda r: (-r.myq, r.doc_id))
        want, cum = {}, 0
        for r in rows:
            cum += r.n
            if cum > 120:
                break
            want[r.doc_id] = (r.n, cum)
        assert got == want


class TestHeavyHitters:
    """Count-min + exact-verify heavy hitters (operators/sketch.py).

    The load-bearing property is count-min's no-underestimate
    guarantee: the filter pass can only ADD false positives, never
    drop a true heavy hitter, so the exact-verify output must equal
    the plain GROUP BY ... HAVING answer for EVERY sketch geometry —
    including pathologically small ones where almost everything
    collides."""

    def _exact(self, df, col, t):
        return sorted(
            (r[col], r["count"])
            for r in df.groupBy(col).count().where(F.col("count") >= t).collect()
        )

    def test_exact_result_normal_geometry(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(5000).select(
            F.concat(F.lit("k"), (F.col("id") % 37).cast("string")).alias("x")
        )
        got = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df, "x", 100).collect()
        )
        assert got == self._exact(df, "x", 100)

    def test_exact_under_collision_stress(self, spark):
        from swanlake_spark.operators import sketch

        # 1000 distinct values into d=2, w=8: ~every bucket collides;
        # the verify pass must still return the exact heavy set
        df = spark.range(20000).select(
            F.concat(
                F.lit("v"), (F.pmod(F.xxhash64("id"), F.lit(1000))).cast("string")
            ).alias("x")
        )
        t = 30
        got = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df, "x", t, d=2, w=8).collect()
        )
        assert got == self._exact(df, "x", t)

    def test_estimate_never_underestimates(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(3000).select(
            F.concat(F.lit("w"), (F.col("id") % 61).cast("string")).alias("x")
        )
        cms = F.broadcast(sketch.count_min(df, "x", d=3, w=32))
        joined = (
            df.groupBy("x").count()
            .crossJoin(cms)
            .select(
                "x",
                "count",
                sketch.cm_estimate(F.col("cms"), F.col("x"), 3, 32).alias("est"),
            )
        )
        bad = joined.where(F.col("est") < F.col("count")).count()
        assert bad == 0

    def test_deterministic_under_repartition(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(8000).select(
            F.concat(F.lit("r"), (F.col("id") % 23).cast("string")).alias("x")
        )
        a = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df, "x", 200).collect()
        )
        b = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df.repartition(17), "x", 200).collect()
        )
        assert a == b and a

    def test_nulls_ignored(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.createDataFrame(
            [("a",)] * 5 + [(None,)] * 10 + [("b",)] * 2, ["x"]
        )
        got = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df, "x", 2).collect()
        )
        assert got == [("a", 5), ("b", 2)]

    def test_backtick_column_names(self, spark):
        """Column names are spliced into the sketch SQL text in backtick
        quotes; a name containing a backtick must escape (by doubling)
        instead of producing a malformed expression."""
        from swanlake_spark.operators import sketch

        plain = spark.range(3000).select(
            F.concat(F.lit("w"), (F.col("id") % 61).cast("string")).alias("x")
        )
        df = plain.withColumnRenamed("x", "x`y")
        got = sorted(
            (r["value"], r["cnt"])
            for r in sketch.heavy_hitters(df, "x`y", 50).collect()
        )
        assert got == self._exact(plain, "x", 50)
        cms = sketch.count_min(df, "x`y", d=3, w=32).select(
            F.col("cms").alias("c`ms")
        )
        est = (
            df.groupBy(F.col("`x``y`")).count()
            .crossJoin(F.broadcast(cms))
            .select("count", sketch.cm_estimate("c`ms", "x`y", 3, 32).alias("est"))
        )
        assert est.count() == 61
        assert est.where(F.col("est") < F.col("count")).count() == 0


class TestKmvSketch:
    """KMV theta sketch (operators/sketch.py KMV section): exact below
    k, (k−1)/θ above, exact merges, and the Beyer et al. multiset
    estimators for intersection/union/jaccard."""

    def test_exact_regime_equals_exact_distinct(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(10000).select(
            F.concat(F.lit("g"), (F.col("id") % 5).cast("string")).alias("g"),
            (F.col("id") % 400).cast("string").alias("v"),
        )
        sk = sketch.kmv_sketch(df, "v", k=1024, by=["g"])
        got = {
            r["g"]: r["est"]
            for r in sk.select(
                "g", sketch.kmv_distinct(F.col("kmv"), 1024).alias("est")
            ).collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g")
            .agg(F.countDistinct("v").alias("n"))
            .collect()
        }
        assert {g: int(e) for g, e in got.items()} == exact

    def test_zero_survivor_groups_recompute_not_vanish(self, spark):
        """A slack so small the pre-filter drops EVERY hash of a group
        must still yield that group's sketch via the unfiltered
        recompute — risky groups are detected from est's side, so a
        group with no survivors can't silently vanish (ADVICE r7)."""
        from swanlake_spark.operators import sketch

        df = spark.createDataFrame(
            [(f"g{i % 4}", f"v{i}") for i in range(200)], ["g", "v"]
        )
        plain = {
            r["g"]: r["kmv"]
            for r in sketch.kmv_sketch(df, "v", k=8, by=["g"]).collect()
        }
        forced = {
            r["g"]: r["kmv"]
            for r in sketch.kmv_sketch(
                df, "v", k=8, by=["g"], _prefilter_slack=1e-6
            ).collect()
        }
        assert set(forced) == {"g0", "g1", "g2", "g3"}
        assert forced == plain
        # global (by=None) zero-survivor path: single-row output, exact
        gp = sketch.kmv_sketch(df, "v", k=8).collect()
        gf = sketch.kmv_sketch(df, "v", k=8, _prefilter_slack=1e-6).collect()
        assert len(gf) == 1 and gf[0]["kmv"] == gp[0]["kmv"]

    def test_estimation_regime_within_tolerance(self, spark):
        from swanlake_spark.operators import sketch

        k = 256
        n = 50000
        df = spark.range(n).select(F.col("id").cast("string").alias("v"))
        sk = sketch.kmv_sketch(df, "v", k=k)
        est = sk.select(
            sketch.kmv_distinct(F.col("kmv"), k).alias("e")
        ).collect()[0]["e"]
        # RSE ≈ 1/sqrt(k−2) ≈ 6.3%; 4σ gate
        assert abs(est - n) / n < 0.25

    def test_union_merge_is_exact_sketch_of_union(self, spark):
        from swanlake_spark.operators import sketch

        k = 64
        a = spark.range(0, 3000).select(F.col("id").cast("string").alias("v"))
        b = spark.range(1500, 5000).select(
            F.col("id").cast("string").alias("v")
        )
        ska = sketch.kmv_sketch(a, "v", k=k).select(
            F.col("kmv").alias("ka")
        )
        skb = sketch.kmv_sketch(b, "v", k=k).select(
            F.col("kmv").alias("kb")
        )
        merged = ska.crossJoin(skb).select(
            sketch.kmv_union(F.col("ka"), F.col("kb"), k).alias("kmv")
        )
        direct = sketch.kmv_sketch(a.unionByName(b), "v", k=k)
        assert (
            merged.collect()[0]["kmv"] == direct.collect()[0]["kmv"]
        )

    def test_partition_parallel_build_merges_exactly(self, spark):
        from swanlake_spark.operators import sketch

        k = 128
        df = spark.range(20000).select(
            (F.col("id") % 7000).cast("string").alias("v")
        )
        h1 = df.where(F.col("id") % 2 == 0)
        h2 = df.where(F.col("id") % 2 == 1)
        s1 = sketch.kmv_sketch(h1, "v", k=k).select(F.col("kmv").alias("a"))
        s2 = sketch.kmv_sketch(h2, "v", k=k).select(F.col("kmv").alias("b"))
        merged = s1.crossJoin(s2).select(
            sketch.kmv_union(F.col("a"), F.col("b"), k).alias("kmv")
        )
        whole = sketch.kmv_sketch(df, "v", k=k)
        assert merged.collect()[0]["kmv"] == whole.collect()[0]["kmv"]

    def test_set_ops_exact_regime(self, spark):
        from swanlake_spark.operators import sketch

        k = 1024  # both sets far below k: estimates must be EXACT
        a = spark.range(0, 300).select(F.col("id").cast("string").alias("v"))
        b = spark.range(200, 500).select(
            F.col("id").cast("string").alias("v")
        )
        ska = sketch.kmv_sketch(a, "v", k=k).select(F.col("kmv").alias("ka"))
        skb = sketch.kmv_sketch(b, "v", k=k).select(F.col("kmv").alias("kb"))
        ops = ska.crossJoin(skb).select(
            sketch.kmv_set_ops(F.col("ka"), F.col("kb"), k).alias("o")
        ).collect()[0]["o"]
        assert int(ops["intersect_est"]) == 100
        assert int(ops["union_est"]) == 500
        assert int(ops["a_minus_b_est"]) == 200
        assert int(ops["b_minus_a_est"]) == 200
        assert abs(ops["jaccard"] - 100 / 500) < 1e-12

    def test_set_ops_estimation_regime(self, spark):
        from swanlake_spark.operators import sketch

        k = 512
        # |A|=40k, |B|=40k, overlap 20k → union 60k, jaccard 1/3
        a = spark.range(0, 40000).select(
            F.col("id").cast("string").alias("v")
        )
        b = spark.range(20000, 60000).select(
            F.col("id").cast("string").alias("v")
        )
        ska = sketch.kmv_sketch(a, "v", k=k).select(F.col("kmv").alias("ka"))
        skb = sketch.kmv_sketch(b, "v", k=k).select(F.col("kmv").alias("kb"))
        ops = ska.crossJoin(skb).select(
            sketch.kmv_set_ops(F.col("ka"), F.col("kb"), k).alias("o")
        ).collect()[0]["o"]
        assert abs(ops["union_est"] - 60000) / 60000 < 0.2
        assert abs(ops["intersect_est"] - 20000) / 20000 < 0.35
        assert abs(ops["jaccard"] - 1 / 3) < 0.12

    def test_prefilter_fallback_path_still_correct(self, spark):
        from swanlake_spark.operators import sketch

        # slack ~0 forces the pre-filter to cut below k survivors, so
        # the detect-and-recompute path must produce the true k-minima
        k = 32
        df = spark.range(5000).select(F.col("id").cast("string").alias("v"))
        forced = sketch.kmv_sketch(df, "v", k=k, _prefilter_slack=0.05)
        normal = sketch.kmv_sketch(df, "v", k=k)
        assert forced.collect()[0]["kmv"] == normal.collect()[0]["kmv"]

    def test_deterministic_under_repartition(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(9000).select(
            (F.col("id") % 31).cast("string").alias("g"),
            (F.col("id") % 2000).cast("string").alias("v"),
        )
        a = {
            r["g"]: r["kmv"]
            for r in sketch.kmv_sketch(df, "v", k=64, by=["g"]).collect()
        }
        b = {
            r["g"]: r["kmv"]
            for r in sketch.kmv_sketch(
                df.repartition(13), "v", k=64, by=["g"]
            ).collect()
        }
        assert a == b and a


class TestWeightedSampleK:
    """Efraimidis–Spirakis weighted reservoir (operators/sampling.py):
    deterministic exp-race keys, so the checks are exact-size,
    layout-independence, merge closure, and a 4-sigma inclusion-rate
    gate over many independent strata."""

    def test_size_and_determinism(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, f"s{i % 5}", float(1 + i % 7)) for i in range(1000)],
            ["doc_id", "grp", "wt"],
        )
        a = {
            (r.grp, r.doc_id)
            for r in sampling.weighted_sample_k(
                df, 10, "wt", ["grp"]
            ).collect()
        }
        b = {
            (r.grp, r.doc_id)
            for r in sampling.weighted_sample_k(
                df.repartition(17), 10, "wt", ["grp"]
            ).collect()
        }
        assert a == b and len(a) == 50

    def test_zero_and_null_weights_never_win(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, None), (4, -2.0), (5, 1.0)],
            ["doc_id", "wt"],
        )
        got = {
            r.doc_id
            for r in sampling.weighted_sample_k(df, 10, "wt").collect()
        }
        assert got == {1, 5}

    def test_inclusion_rate_tracks_weights(self, spark):
        from swanlake_spark.operators import sampling

        # 500 independent strata, each holding A (weight 9) and B
        # (weight 1), k=1: P(pick A) = 0.9; 4-sigma gate ~ +-5.4pp
        rows = []
        for g in range(500):
            rows.append((2 * g, g, "A", 9.0))
            rows.append((2 * g + 1, g, "B", 1.0))
        df = spark.createDataFrame(rows, ["doc_id", "grp", "item", "wt"])
        picked = sampling.weighted_sample_k(df, 1, "wt", ["grp"]).collect()
        frac_a = sum(1 for r in picked if r.item == "A") / 500
        assert abs(frac_a - 0.9) < 0.054, frac_a

    def test_merge_closure(self, spark):
        from swanlake_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, float(1 + i % 11)) for i in range(2000)],
            ["doc_id", "wt"],
        )
        whole = {
            r.doc_id
            for r in sampling.weighted_sample_k(df, 25, "wt").collect()
        }
        h1 = sampling.weighted_sample_k(
            df.where(F.col("doc_id") % 2 == 0), 25, "wt"
        )
        h2 = sampling.weighted_sample_k(
            df.where(F.col("doc_id") % 2 == 1), 25, "wt"
        )
        merged = {
            r.doc_id
            for r in sampling.weighted_sample_k(
                h1.unionByName(h2), 25, "wt"
            ).collect()
        }
        assert merged == whole


class TestHistogramQuantile:
    """Fixed-bin histogram quantile sketch (operators/sketch.py): the
    contract is (a) value error <= one bin width vs the exact
    interpolated quantile, (b) merges are bit-exact elementwise adds,
    (c) per-group sketches share global bins."""

    def test_error_within_bin_width(self, spark):
        from swanlake_spark.operators import sketch

        n, bins = 50000, 512
        df = spark.range(n).select(
            (F.col("id") * F.col("id") % 9973).cast("double").alias("v")
        )
        sk = sketch.histogram_sketch(df, "v", bins=bins)
        row = sk.select(
            *[
                sketch.hist_quantile(
                    F.col("counts"), F.col("lo"), F.col("hi"), q
                ).alias(f"q{int(q*100)}")
                for q in (0.25, 0.5, 0.9, 0.99)
            ],
            "lo", "hi",
        ).collect()[0]
        width = (row["hi"] - row["lo"]) / bins
        exact = df.selectExpr(
            "percentile(v, array(0.25, 0.5, 0.9, 0.99)) AS p"
        ).collect()[0]["p"]
        for got, want in zip(
            [row["q25"], row["q50"], row["q90"], row["q99"]], exact
        ):
            assert abs(got - want) <= width + 1e-9, (got, want, width)

    def test_merge_is_elementwise_add(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(20000).select(
            (F.col("id") % 997).cast("double").alias("v")
        )
        lo, hi = 0.0, 997.0
        whole = sketch.histogram_sketch(df, "v", bins=128, lo=lo, hi=hi)
        h1 = sketch.histogram_sketch(
            df.where(F.col("id") % 2 == 0), "v", bins=128, lo=lo, hi=hi
        ).select(F.col("counts").alias("ca"))
        h2 = sketch.histogram_sketch(
            df.where(F.col("id") % 2 == 1), "v", bins=128, lo=lo, hi=hi
        ).select(F.col("counts").alias("cb"))
        merged = h1.crossJoin(h2).select(
            sketch.hist_merge(F.col("ca"), F.col("cb")).alias("counts")
        )
        assert (
            merged.collect()[0]["counts"]
            == whole.collect()[0]["counts"]
        )

    def test_grouped_sketches_share_global_bins(self, spark):
        from swanlake_spark.operators import sketch

        df = spark.range(6000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") % 600).cast("double").alias("v"),
        )
        sk = sketch.histogram_sketch(df, "v", bins=64, by=["g"])
        rows = sk.collect()
        assert len(rows) == 3
        assert len({(r["lo"], r["hi"]) for r in rows}) == 1  # shared range
        # medians per group: values are uniform 0..599 in every group
        med = sk.select(
            "g",
            sketch.hist_quantile(
                F.col("counts"), F.col("lo"), F.col("hi"), 0.5
            ).alias("m"),
        ).collect()
        width = 599.0 / 64
        for r in med:
            assert abs(r["m"] - 299.5) <= width + 1.0, r

    def test_backtick_column_names(self, spark):
        """hist_quantile's SQL-text path quotes the counts/lo/hi names;
        names containing a backtick give the same quantile as plain
        names."""
        from swanlake_spark.operators import sketch

        df = spark.range(5000).select((F.col("id") % 500).cast("double").alias("v"))
        sk = sketch.histogram_sketch(df, "v", bins=64)
        plain = sk.select(sketch.hist_quantile("counts", "lo", "hi", 0.5)).collect()[0][0]
        odd = sk.select(
            F.col("counts").alias("co`unts"),
            F.col("lo").alias("l`o"),
            F.col("hi").alias("h`i"),
        )
        got = odd.select(sketch.hist_quantile("co`unts", "l`o", "h`i", 0.5)).collect()[0][0]
        assert got == plain

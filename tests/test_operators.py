"""Unit tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "The quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
        (2, "The quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (3, "Der Hund und die Katze sind nicht das Problem der Stadt"),
        (4, "completely different content about spark query engines"),
        (5, ""),
        (6, "le chat et la souris est une histoire les enfants"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestTextOps:
    def test_token_count(self, spark, docs):
        from myzql_binlog_connector_spark.operators.text import token_count

        got = {r.doc_id: r.n for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
        assert got[0] == 13
        assert got[5] == 0

    def test_lang_id(self, spark, docs):
        from myzql_binlog_connector_spark.operators.text import lang_id

        got = {r.doc_id: r.lang for r in docs.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
        assert got[0] == "en"
        assert got[3] == "de"
        assert got[6] == "fr"
        assert got[5] == "und"

    def test_fingerprint_ignores_case_and_punct(self, spark):
        from myzql_binlog_connector_spark.operators.text import fingerprint

        df = spark.createDataFrame(
            [("Hello, World!",), ("hello world",), ("HELLO  world.",)], "t string"
        )
        fps = [r.fp for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
        assert len(set(fps)) == 1

    def test_quality_score_ordering(self, spark):
        from myzql_binlog_connector_spark.operators.text import quality_score

        df = spark.createDataFrame(
            [
                ("good", "The market for industrial equipment is expanding and the suppliers of the region are investing in the new capacity."),
                ("noise", "@@@@ #### $$$$ %%%% ^^^^ &&&& !!!"),
            ],
            "kind string, t string",
        )
        got = {r.kind: r.q for r in df.select("kind", quality_score(F.col("t")).alias("q")).collect()}
        assert got["good"] > got["noise"]
        assert 0.0 <= got["noise"] <= 1.0 <= got["good"] + 1

    def test_bpe_ish_counts_more_than_words(self, spark):
        from myzql_binlog_connector_spark.operators.text import (
            bpe_ish_token_count,
            token_count,
        )

        df = spark.createDataFrame([("it's a test-case, v2.0!",)], "t string")
        r = df.select(
            token_count(F.col("t")).alias("w"), bpe_ish_token_count(F.col("t")).alias("b")
        ).collect()[0]
        assert r.b > r.w


class TestFuzzyDedup:
    def test_exact_dup_same_signature(self, spark, docs):
        from myzql_binlog_connector_spark.operators.fuzzy import minhash_signatures

        sigs = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(8))
                for r in minhash_signatures(docs, n_hashes=8).collect()}
        assert sigs[0] == sigs[1]          # identical docs: identical signature
        assert sigs[0] != sigs[4]          # unrelated docs differ

    def test_minhash_pairs_find_dups(self, spark, docs):
        from myzql_binlog_connector_spark.operators.fuzzy import minhash_dup_pairs

        pairs = {(r.id_a, r.id_b): r.jaccard
                 for r in minhash_dup_pairs(docs, jaccard_threshold=0.5).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
        assert all(a != 4 and b != 4 for a, b in pairs)  # unrelated excluded

    def test_minhash_rows_verify_matches_broadcast(self, spark, docs):
        from myzql_binlog_connector_spark.operators.fuzzy import (
            minhash_dup_pairs,
            ngram_jaccard,
        )

        pairs = minhash_dup_pairs(docs, jaccard_threshold=0.0)
        bcast = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        cand = pairs.select("id_a", "id_b")
        rows = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard(
                docs, cand, verify="rows", release_first=False
            ).collect()
        }
        assert bcast == rows

    def test_min_sig_agree_bound(self):
        """Prefilter bound: band collisions guarantee band_rows agreements,
        so the cut must sit strictly above them to prune anything."""
        from myzql_binlog_connector_spark.operators.fuzzy import min_sig_agree

        assert min_sig_agree(8, 0.35) == 5  # 2 + ceil(6 * 0.35)
        assert min_sig_agree(8, 0.6) == 6   # 2 + ceil(6 * 0.6)
        for t in (0.0, 0.2, 0.5, 0.9):
            assert min_sig_agree(8, t, band_rows=2) > 2

    def test_prefilter_keeps_near_dups_drops_weak_collisions(self, spark):
        """Docs sharing one boilerplate sentence band-collide but have low
        Jaccard — the signature-agreement prefilter must refute them while
        real near-duplicates still verify."""
        from myzql_binlog_connector_spark.operators.fuzzy import minhash_dup_pairs

        boiler = "subscribe to our newsletter for updates and offers. "
        rows = [
            (0, boiler + "quantum computing advances in error correction."),
            (1, boiler + "quantum computing advances in error correctiom."),  # near dup of 0
            (2, boiler + "the housing market cooled sharply last quarter."),
            (3, boiler + "recipes for fermented vegetables and miso soup."),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = {(r.id_a, r.id_b): r.jaccard
                 for r in minhash_dup_pairs(docs, jaccard_threshold=0.5).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
        assert all({a, b} == {0, 1} for a, b in pairs)

    def test_release_cached_frees_all_blocks(self, spark, docs):
        from myzql_binlog_connector_spark.operators.fuzzy import (
            minhash_dup_pairs,
            release_cached,
        )

        release_cached()
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        minhash_dup_pairs(docs, jaccard_threshold=0.5).count()
        released = release_cached()
        assert released >= 1  # the candidate-pair frame was tracked
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

    def test_simhash_near_dup_low_hamming(self, spark, docs):
        from myzql_binlog_connector_spark.operators.fuzzy import simhash

        sh = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
        assert sh[0] == sh[1]
        ham = bin(sh[0] ^ sh[2]).count("1")
        ham_far = bin(sh[0] ^ sh[4]).count("1")
        assert ham <= ham_far

    def test_exact_dedup_keeps_min_id(self, spark, docs):
        from myzql_binlog_connector_spark.operators.dedup import exact_dedup

        kept = exact_dedup(docs.filter("text <> ''"), ["text"], keep_col="doc_id")
        ids = {r.doc_id for r in kept.collect()}
        assert 0 in ids and 1 not in ids


class TestSimilarity:
    def test_topk_finds_duplicate_vector(self, spark):
        from myzql_binlog_connector_spark.operators.similarity import ann_topk_bruteforce

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.001, 0.0]),   # ≈ vec 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        probes = emb.filter("vec_id = 0")
        top = ann_topk_bruteforce(emb, probes, k=1, dims=3).collect()
        assert top[0].neighbor_id == 1 and top[0].rank == 1

    def test_arrow_matches_codegen_bit_identical(self, spark):
        """dot_arrow/norm_arrow (arrow_udf) vs the unrolled codegen fold —
        same association order, so results must be EQUAL, not just close."""
        from myzql_binlog_connector_spark.operators.similarity import (
            dot, dot_arrow, norm, norm_arrow,
        )

        rows = [
            ([(i * 7 + j) % 13 - 6.5 for j in range(16)],
             [(i * 5 + j) % 11 - 5.25 for j in range(16)])
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "a array<float>, b array<float>")
        got = df.select(
            dot(F.col("a"), F.col("b"), 16).alias("cg_dot"),
            dot_arrow(F.col("a"), F.col("b"), 16).alias("ar_dot"),
            norm(F.col("a"), 16).alias("cg_nrm"),
            norm_arrow(F.col("a"), 16).alias("ar_nrm"),
        ).collect()
        for r in got:
            assert r.cg_dot == r.ar_dot, (r.cg_dot, r.ar_dot)
            assert r.cg_nrm == r.ar_nrm


class TestMatGates:
    """The exact raggedness gate of `_mat_arrow`, vectorized over Arrow
    list offsets (round-6 verdict #1 replaced a per-row `len` loop)."""

    def _ragged(self):
        import pyarrow as pa
        return pa.array(
            [[1.0, 2.0, 3.0], [4.0, 5.0], [6.0, 7.0, 8.0]],
            type=pa.list_(pa.float32()),
        )

    def test_mat_arrow_happy(self):
        import pyarrow as pa
        from myzql_binlog_connector_spark.operators.similarity import _mat_arrow

        a = pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float32()))
        M = _mat_arrow(a, 2)
        assert M.dtype == np.float64 and M.shape == (2, 2)
        assert M.tolist() == [[1.0, 2.0], [3.0, 4.0]]

    def test_mat_arrow_sliced_and_chunked(self):
        import pyarrow as pa
        from myzql_binlog_connector_spark.operators.similarity import _mat_arrow

        a = pa.array(
            [[float(3 * i + j) for j in range(3)] for i in range(6)],
            type=pa.list_(pa.float32()),
        )
        s = a.slice(2, 3)  # offsets no longer start at 0
        assert _mat_arrow(s, 3).tolist() == [
            [6.0, 7.0, 8.0], [9.0, 10.0, 11.0], [12.0, 13.0, 14.0]
        ]
        ch = pa.chunked_array([a.slice(0, 2), a.slice(2, 2)])
        assert _mat_arrow(ch, 3).shape == (4, 3)

    def test_mat_arrow_rejects_ragged(self):
        import pytest
        from myzql_binlog_connector_spark.operators.similarity import _mat_arrow

        with pytest.raises(ValueError, match="ragged embedding column"):
            _mat_arrow(self._ragged(), 3)
        # compensating lengths whose total happens to equal n*dims must
        # still be rejected (the hole the exact gate exists to close)
        import pyarrow as pa
        comp = pa.array(
            [[1.0, 2.0], [3.0, 4.0, 5.0, 6.0], [7.0, 8.0, 9.0]],
            type=pa.list_(pa.float32()),
        )
        with pytest.raises(ValueError, match="ragged embedding column"):
            _mat_arrow(comp, 3)

    def test_mat_arrow_rejects_nulls(self):
        import pyarrow as pa
        import pytest
        from myzql_binlog_connector_spark.operators.similarity import _mat_arrow

        with pytest.raises(ValueError, match="null embedding rows"):
            _mat_arrow(
                pa.array([[1.0, 2.0], None], type=pa.list_(pa.float32())), 2
            )
        with pytest.raises(ValueError, match="null embedding elements"):
            _mat_arrow(
                pa.array([[1.0, None], [3.0, 4.0]], type=pa.list_(pa.float32())), 2
            )

    def test_dot_arrow_rejects_ragged_end_to_end(self, spark):
        import pytest
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.base import PySparkException
        from myzql_binlog_connector_spark.operators.similarity import dot_arrow

        df = spark.createDataFrame(
            [([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]), ([1.0, 2.0], [1.0, 2.0, 3.0])],
            "a array<float>, b array<float>",
        )
        with pytest.raises((Py4JJavaError, PySparkException)) as ei:
            df.select(dot_arrow(F.col("a"), F.col("b"), 3).alias("d")).collect()
        assert "ragged embedding column" in str(ei.value)


class TestMultimodal:
    def test_fake_decode_meta(self, spark):
        from myzql_binlog_connector_spark.operators.multimodal import decode_media

        media = spark.createDataFrame(
            [(1, "image", bytearray(b"pretend-png-bytes")), (2, "audio", bytearray(b"pretend-wav"))],
            "media_id bigint, kind string, payload binary",
        )
        got = {r.media_id: r for r in decode_media(media, fake=True).collect()}
        assert got[1].byte_len == len(b"pretend-png-bytes")
        assert got[1].format == "png" and got[1].width is not None
        assert got[2].format == "wav" and got[2].duration_ms is not None and got[2].width is None

    def test_real_decode_is_stubbed(self, spark):
        from myzql_binlog_connector_spark.operators.multimodal import decode_media

        media = spark.createDataFrame(
            [(1, "image", bytearray(b"x"))], "media_id bigint, kind string, payload binary"
        )
        with pytest.raises(Exception):  # NotImplementedError inside the UDF
            decode_media(media, fake=False).collect()

    def test_frame_sampling_explodes(self, spark):
        from myzql_binlog_connector_spark.operators.multimodal import sample_frames

        media = spark.createDataFrame(
            [(1, "video", bytearray(bytes(range(100))))],
            "media_id bigint, kind string, payload binary",
        )
        frames = sample_frames(media, every_n=10, max_frames=4).collect()
        assert len(frames) == 4
        assert b"".join(bytes(f.frame) for f in frames) <= bytes(range(100)) or len(frames[0].frame) > 0


class TestConnectedComponents:
    def test_chain_cycle_singleton_pair(self, spark):
        from myzql_binlog_connector_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),      # chain -> cluster 1
             (10, 11), (11, 12), (12, 10),  # cycle -> cluster 10
             (20, 21)],                     # pair -> cluster 20
            "id_a bigint, id_b bigint",
        )
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                       10: 10, 11: 10, 12: 10,
                       20: 20, 21: 20}

    def test_long_chain_converges(self, spark):
        from myzql_binlog_connector_spark.operators.dedup import connected_components

        n = 30
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
        )
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs, max_iters=40).collect()}
        assert set(got.values()) == {0}
        assert len(got) == n + 1


class TestSampling:
    def test_split_deterministic_and_partition_invariant(self, spark):
        from myzql_binlog_connector_spark.operators.sampling import hash_split

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in hash_split(df).collect()}
        b = {r.doc_id: r.split for r in hash_split(df.repartition(7)).collect()}
        assert a == b  # content-addressed: layout cannot change assignment
        frac = sum(1 for v in a.values() if v == "train") / len(a)
        assert 0.85 < frac < 0.95  # ~0.9 within binomial noise

    def test_split_seed_changes_assignment(self, spark):
        from myzql_binlog_connector_spark.operators.sampling import hash_split

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in hash_split(df, seed="s1").collect()}
        b = {r.doc_id: r.split for r in hash_split(df, seed="s2").collect()}
        assert a != b

    def test_split_sql_mirror_matches(self, spark):
        import duckdb

        from myzql_binlog_connector_spark.operators.sampling import (
            hash_split,
            split_sql,
        )

        df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
        got = {r.doc_id: r.split for r in hash_split(df).collect()}
        con = duckdb.connect()
        want = dict(
            con.sql(
                f"SELECT doc_id, {split_sql('doc_id')} AS split "
                "FROM (SELECT unnest(range(300)) AS doc_id)"
            ).fetchall()
        )
        assert got == want


class TestDecontaminate:
    def test_drops_benchmark_and_overlapping_docs(self, spark):
        from myzql_binlog_connector_spark.operators.text import decontaminate

        leak = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (0, "completely unrelated text about gardening and soil quality"),
            (1, f"prefix {leak} suffix"),          # contains the benchmark span
            (2, leak),                              # the benchmark doc itself
            (3, "another clean document on astronomy and telescopes today"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        bench = spark.createDataFrame([(leak,)], "text string")
        clean = {r.doc_id for r in decontaminate(docs, bench, k=40).collect()}
        assert clean == {0, 3}
        dirty = {r.doc_id for r in
                 decontaminate(docs, bench, k=40, keep="contaminated").collect()}
        assert dirty == {1, 2}

    def test_short_benchmark_doc_matches_exact_short_doc(self, spark):
        from myzql_binlog_connector_spark.operators.text import decontaminate

        docs = spark.createDataFrame(
            [(0, "tiny"), (1, "other")], "doc_id bigint, text string"
        )
        bench = spark.createDataFrame([("tiny",)], "text string")
        clean = {r.doc_id for r in decontaminate(docs, bench, k=40).collect()}
        assert clean == {1}


class TestDedupSurvivors:
    def test_keeps_min_id_per_cluster_and_singletons(self, spark):
        from myzql_binlog_connector_spark.operators.dedup import dedup_survivors

        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(8)], "doc_id bigint, text string"
        )
        # clusters: {0,1,2} (chain), {5,6}; singletons 3,4,7
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "id_a bigint, id_b bigint"
        )
        kept = {r.doc_id for r in dedup_survivors(docs, pairs).collect()}
        assert kept == {0, 3, 4, 5, 7}

    def test_majority_duplicates_corpus_no_forced_broadcast(self, spark):
        """Dirty-crawl shape: most of the corpus is near-duplicate members,
        so the drop set is corpus-scale — the plan must not FORCE a
        broadcast of it (size-based planning decides; either join strategy
        is acceptable), and the result must still be exact."""
        from myzql_binlog_connector_spark.operators.dedup import dedup_survivors

        n = 400
        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(n)], "doc_id bigint, text string"
        )
        # 40 clusters of 10 consecutive ids each → 90% of docs dropped
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n) if i % 10 != 9],
            "id_a bigint, id_b bigint",
        )
        out = dedup_survivors(docs, pairs)
        assert {r.doc_id for r in out.collect()} == {i for i in range(0, n, 10)}
        # no ResolvedHint/broadcast function in the LOGICAL plan — the
        # optimizer may still CHOOSE broadcast from size estimates
        logical = out._jdf.queryExecution().logical().toString()
        assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


class TestMinhashRecall:
    def test_recall_floor_pinned(self, spark):
        """Round-5 directive: pin LSH recall against exact n-gram Jaccard
        so future candidate-cutting (like the round-4 signature-agreement
        prefilter) can't silently lose near-dups.  Floor: >= 0.8 of truth
        pairs (exact J >= 0.7 over rare-shingle blocking) recovered at
        sf0.001; measured 1.0 at both sf0.001 and sf0.01 — real near-dups
        in the corpus sit at J ~= 0.99, far above the prefilter's
        threshold-boundary recall trade."""
        import os

        import __spark_entry__ as entry

        sf_dir = "/root/testdata/sf0.001"
        if not os.path.isdir(sf_dir):
            import pytest

            pytest.skip("testdata not present")
        row = entry.q_minhash_recall(spark, sf_dir).collect()[0]
        assert row.n_truth > 0
        assert row.recall >= 0.8, (row.n_truth, row.n_found)


class TestIvfRecall:
    """Pin IVF ANN recall against exact brute-force cosine top-k — the
    same contract as TestMinhashRecall: a k-means, assignment, or nprobe
    change can't silently trade recall away.

    The synthetic embeddings are near-uniform on the sphere, so partial-
    probe recall is governed by the searched-cell fraction (unlike real
    clustered embeddings where it approaches 1.0) — the honest pins are
    therefore (a) COMPLETENESS: nprobe == n_cells must reproduce the exact
    brute-force result (any vector lost in assignment/join shows here),
    and (b) partial probes must beat their raw coverage fraction by a
    wide, deterministic margin (measured 0.767 at 60% coverage, 0.493 at
    15% — the pipeline is RNG-free so these are stable numbers, pinned
    just below)."""

    @staticmethod
    def _pairs(df):
        return {(r.probe_id, r.neighbor_id) for r in df.select("probe_id", "neighbor_id").collect()}

    def _truth_and_ivf(self, spark, stride, nprobe):
        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.operators import similarity

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = emb.filter(F.col("vec_id") < 50)
        truth = self._pairs(similarity.ann_topk_bruteforce(emb, probes, k=3))
        got = self._pairs(similarity.ann_topk_ivf(emb, probes, k=3, stride=stride, nprobe=nprobe))
        return truth, got

    def test_full_probe_reproduces_bruteforce_exactly(self, spark):
        """nprobe == n_cells: every vector is a candidate, and the shared
        4dp-round + id tie-break ordering makes IVF's top-k set-identical
        to brute force — recall exactly 1.0, no vector dropped by the
        assignment max_by or the cell join."""
        import os

        import pytest as _pytest

        if not os.path.isdir("/root/testdata/sf0.001"):
            _pytest.skip("testdata not present")
        truth, got = self._truth_and_ivf(spark, stride=25, nprobe=20)
        assert truth == got

    def test_partial_probe_beats_coverage(self, spark):
        """Partial search must beat random-cell coverage: 3 of ~5 cells
        (60% coverage) measured 0.767; 3 of ~20 cells (15% coverage)
        measured 0.493 — 1.3x and 3.3x their coverage fractions."""
        import os

        import pytest as _pytest

        if not os.path.isdir("/root/testdata/sf0.001"):
            _pytest.skip("testdata not present")
        truth, wide = self._truth_and_ivf(spark, stride=100, nprobe=3)
        assert len(truth) == 150  # 50 probes x k=3
        assert len(truth & wide) / len(truth) >= 0.75
        _, narrow = self._truth_and_ivf(spark, stride=25, nprobe=3)
        assert len(truth & narrow) / len(truth) >= 0.45

    def test_clustered_fixture_recall_at_30pct_coverage(self, spark):
        """Round-6 directive #4: on CLUSTERED embeddings (the production
        geometry IVF exists for) partial-probe recall must clear 0.9 at
        ~30% coverage — the near-uniform driver fixture caps recall near
        coverage and made the published number look broken.  The fixture
        and the whole IVF pipeline are RNG-free/seeded, so this is a
        stable pin, not a flaky statistical test (measured 0.953)."""
        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.operators import similarity

        emb = similarity.clustered_embeddings(spark).persist()
        try:
            probes = emb.filter(F.col("vec_id") < 50)
            truth = self._pairs(
                similarity.ann_topk_bruteforce(emb, probes, k=3)
            )
            got = self._pairs(
                similarity.ann_topk_ivf(
                    emb, probes, k=3, stride=100, nprobe=6
                )
            )
            assert len(truth) == 150
            recall = len(truth & got) / len(truth)
            assert recall >= 0.9, recall
        finally:
            emb.unpersist()

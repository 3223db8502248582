"""Round-8 optimization kernels: pin the rewritten internals against their
plan-level reference implementations on adversarial inputs.

Every optimization this round kept operator RESULTS identical while
changing the execution shape; these tests freeze that equivalence on the
edge cases the benchmark data never exercises (empty/short/NULL text,
punctuation-only docs, sliced Arrow buffers, sub-minimum feed backlogs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EDGE_DOCS = [
    (0, "The quick brown fox jumps over the lazy dog!"),
    (1, ""),                      # empty → one "" shingle
    (2, "ab"),                    # shorter than k → whole-string shingle
    (3, "!!! ???"),               # normalizes to empty
    (4, "a"),                     # single char
    (5, "abcde"),                 # exactly k chars (k=5)
    (6, "abcdef"),                # k+1
    (7, None),                    # NULL text → no shingles, no signature
    (8, "The   quick\tbrown\nfox"),  # whitespace runs
    (9, "the quick brown fox jumps over the lazy dog"),  # near-dup of 0
    (10, "Ab0 cD1 ef2 GH3 ij4 kl5 mn6 op7"),  # digits + case
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id bigint, text string")


class TestPackedShingleSets:
    def _reference_sets(self, docs, k):
        """The pre-round-8 plan shape: explode + distinct per doc (NULL
        text filtered — the round-8 contract both paths share)."""
        from myzql_binlog_connector_spark.operators.text import shingle_rows

        rows = (
            shingle_rows(
                docs.select("doc_id", "text").filter(
                    F.col("text").isNotNull()
                ),
                "text", "doc_id", k=k,
            )
            .distinct()
            .collect()
        )
        out: dict = {}
        for r in rows:
            out.setdefault(r.doc_id, set()).add(r.sh)
        return out

    def test_packed_sets_match_exploded_sets(self, spark, edge_docs):
        """Packed int64 sets are a bijective image of the exploded string
        sets: same docs present, same per-doc cardinality, and equal sets
        ⇔ equal packed sets (injectivity) — checked via the near-dup pair
        (docs 0 and 9) sharing most shingles."""
        self._assert_sets_match(edge_docs, 5)

    def test_hashed_sets_match_exploded_sets(self, spark, edge_docs):
        """The same at k = 7, where ids are Horner hashes and more of the
        edge docs are shorter than k."""
        self._assert_sets_match(edge_docs, 7)

    def _assert_sets_match(self, edge_docs, k):
        from myzql_binlog_connector_spark.operators.fuzzy import (
            _doc_shingle_sets,
        )

        ref = self._reference_sets(edge_docs, k)
        got = {
            r.doc_id: set(r.sids)
            for r in _doc_shingle_sets(
                edge_docs, "text", "doc_id", k
            ).collect()
        }
        # NULL-text doc must be absent from both
        assert 7 not in ref and 7 not in got
        assert set(got) == set(ref)
        for d in ref:
            assert len(got[d]) == len(ref[d]), d
        # intersection sizes must agree with the string-set reference
        # (this is what the Jaccard verifier consumes)
        inter_ref = len(ref[0] & ref[9])
        inter_got = len(got[0] & got[9])
        assert inter_ref == inter_got > 0

    def test_signatures_packed_matches_jvm_plan(self, spark, edge_docs):
        """The mapInArrow signature path must be value-identical to the
        exploded JVM md5 plan (same digests, same halves, same minima)."""
        from myzql_binlog_connector_spark.operators import fuzzy
        from myzql_binlog_connector_spark.operators.text import shingle_rows

        got = {
            r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8))
            for r in fuzzy.minhash_signatures(
                edge_docs, "text", "doc_id", 8, 5
            ).collect()
        }
        # reference: the explicit exploded plan (k>6 fallback shape; NULL
        # text filtered per the shared contract)
        exploded = shingle_rows(
            edge_docs.select("doc_id", "text").filter(
                F.col("text").isNotNull()
            ),
            "text", "doc_id", k=5,
        )
        cols = []
        for seed in range(4):
            m = F.md5(F.concat(F.lit(f"{seed}:"), F.col("sh")))
            cols.append(
                F.conv(F.substring(m, 1, 15), 16, 10).cast("long").alias(
                    f"h_{2 * seed}"
                )
            )
            cols.append(
                F.conv(F.substring(m, 16, 15), 16, 10).cast("long").alias(
                    f"h_{2 * seed + 1}"
                )
            )
        ref = {
            r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8))
            for r in exploded.select("doc_id", *cols)
            .groupBy("doc_id")
            .agg(*[F.min(f"h_{i}").alias(f"mh_{i}") for i in range(8)])
            .collect()
        }
        assert got == ref
        assert 7 not in got  # NULL text emits no signature row

    def test_bitset_and_csr_verifiers_agree(self, spark, edge_docs):
        """Force both broadcast verifier layouts over the same pairs."""
        from myzql_binlog_connector_spark.operators import fuzzy

        docs = edge_docs.filter(F.col("text").isNotNull())
        pairs = spark.createDataFrame(
            [(0, 9), (0, 2), (1, 3), (5, 6), (0, 10)], "id_a bigint, id_b bigint"
        )
        out = {
            (r.id_a, r.id_b): r.jaccard
            for r in fuzzy.ngram_jaccard(
                docs, pairs, verify="broadcast", threshold=0.0
            ).collect()
        }
        fuzzy.release_cached()
        ref = {
            (r.id_a, r.id_b): r.jaccard
            for r in fuzzy.ngram_jaccard(
                docs, pairs, verify="rows", threshold=0.0
            ).collect()
        }
        fuzzy.release_cached()
        assert out == ref
        assert out[(0, 9)] > 0.5  # the near-dup pair
        assert out[(1, 3)] == 1.0  # both normalize to "" → identical sets


class TestRollingHashShingles:
    def test_decontaminate_matches_exploded_reference(self, spark, edge_docs):
        """The Horner-scan hit set must equal raw-shingle-equality hits."""
        from myzql_binlog_connector_spark.operators.text import (
            decontaminate,
            shingle_rows,
        )

        docs = edge_docs.filter(F.col("text").isNotNull())
        bench = docs.filter(F.col("doc_id").isin(9, 2)).select("text")
        got = sorted(
            r.doc_id
            for r in decontaminate(docs, bench, k=5).select("doc_id").collect()
        )
        # reference: exact string-equality semi/anti join on raw shingles
        dsh = shingle_rows(docs, "text", "doc_id", k=5)
        bsh = (
            shingle_rows(
                bench.select(
                    F.monotonically_increasing_id().alias("b"), "text"
                ),
                "text",
                "b",
                k=5,
            )
            .select("sh")
            .distinct()
        )
        hit = dsh.join(bsh, "sh", "left_semi").select("doc_id").distinct()
        ref = sorted(
            r.doc_id
            for r in docs.join(hit, "doc_id", "left_anti")
            .select("doc_id")
            .collect()
        )
        assert got == ref

    def test_short_and_empty_docs_hash_consistently(self, spark):
        """Docs below k share hashes iff their whole strings match —
        zero-padding must not alias a short shingle to a full window."""
        from myzql_binlog_connector_spark.operators.text import (
            shingle_hash_rows,
        )

        docs = spark.createDataFrame(
            [(1, "ab"), (2, "ab"), (3, "abx"), (4, ""), (5, "")],
            "doc_id bigint, text string",
        )
        rows = shingle_hash_rows(docs, "text", "doc_id", k=40).collect()
        h = {r["doc_id"]: r["__h__"] for r in rows}
        assert h[1] == h[2]
        assert h[4] == h[5]
        assert h[1] != h[3] and h[1] != h[4]

    def test_null_text_has_no_shingles(self, spark):
        """A NULL doc emits no shingle row, so decontamination keeps it even
        against a benchmark with an empty-text row ("" is a real shingle:
        the empty doc matches it and is dropped)."""
        from myzql_binlog_connector_spark.operators.text import (
            decontaminate,
            shingle_hash_rows,
        )

        docs = spark.createDataFrame(
            [(1, None), (2, "hello world"), (3, "")],
            "doc_id bigint, text string",
        )
        bench = spark.createDataFrame([("",)], "text string")
        ids = {r.doc_id for r in shingle_hash_rows(docs, "text", "doc_id", k=40).collect()}
        assert ids == {2, 3}
        kept = {r.doc_id for r in decontaminate(docs, bench, k=40).collect()}
        assert kept == {1, 2}


def _python_ids(t, k):
    """Reference shingle ids of one normalized string: the Horner sum over
    each distinct window's bytes (the whole string zero-padded to k when
    shorter), mod 2^64 as a signed int64."""
    base = 256 if k <= 6 else 1099511628211
    grams = {t[i : i + k] for i in range(len(t) - k + 1)} or {t}
    out = set()
    for g in grams:
        v = 0
        for b in g.encode().ljust(k, b"\0"):
            v = (v * base + b) % (1 << 64)
        out.add(v - (1 << 64) if v >= 1 << 63 else v)
    return sorted(out)


def _assert_ids_match_python(arr, texts, k):
    from myzql_binlog_connector_spark.operators.text import shingle_ids

    doc, ids, counts = shingle_ids(arr, k)
    want = [[] if t is None else _python_ids(t, k) for t in texts]
    assert counts.tolist() == [len(w) for w in want]
    assert doc.tolist() == [i for i, w in enumerate(want) for _ in w]
    assert ids.tolist() == [v for w in want for v in w]


class TestPackedKernelLimits:
    def test_large_k6_batch_matches_python_sets(self):
        """One Arrow batch of 65,537 docs at k=6: a (doc << 48) | value
        composite overflows int64 past doc 32,767, so the per-doc dedupe
        must not build one over the whole batch.  Per-doc distinct packed
        k-grams equal Python sets."""
        import numpy as np
        import pyarrow as pa

        k, n = 6, 65_537
        rng = np.random.default_rng(7)
        alphabet = np.array(list("ab c"))
        texts = [
            "".join(alphabet[rng.integers(0, 4, size=int(rng.integers(0, 14)))])
            for _ in range(n)
        ]
        _assert_ids_match_python(pa.array(texts), texts, k)

    @pytest.mark.parametrize("n_sid", [1, 7, 8, 64, 203])
    def test_packed_bitsets_equal_packbits_of_dense(self, n_sid):
        """The bitset verifier's packed per-doc sets equal
        ``np.packbits`` over the dense bool matrix, including widths that
        are not a multiple of 8 and empty docs."""
        import numpy as np

        from myzql_binlog_connector_spark.operators.fuzzy import _packed_bitsets

        rng = np.random.default_rng(n_sid)
        n_docs = 50
        sets = [
            rng.choice(n_sid, size=int(rng.integers(0, n_sid + 1)), replace=False)
            for _ in range(n_docs)
        ]
        rows = np.repeat(np.arange(n_docs), [len(s) for s in sets])
        cols = np.concatenate(sets).astype(np.int64)
        dense = np.zeros((n_docs, n_sid), dtype=bool)
        dense[rows, cols] = True
        got = _packed_bitsets(rows, cols, n_docs, n_sid)
        assert got.dtype == np.uint8
        assert np.array_equal(got, np.packbits(dense, axis=1))


class TestShingleKernel:
    @pytest.mark.parametrize("k", [1, 2, 3, 4, 5, 6])
    def test_packed_ids_injective_exhaustive(self, k):
        """Every string of length 0..k+1 over "abc" plus space: each
        distinct shingle string (a short doc's padded whole string
        included) gets its own id, and one string always the same id — so
        a short doc never aliases a full window."""
        import itertools

        import pyarrow as pa

        from myzql_binlog_connector_spark.operators.text import shingle_ids

        texts = [
            "".join(p)
            for n in range(k + 2)
            for p in itertools.product("abc ", repeat=n)
        ]
        doc, ids, counts = shingle_ids(pa.array(texts), k)
        grams = [
            sorted({t[i : i + k] for i in range(len(t) - k + 1)} or {t})
            for t in texts
        ]
        assert counts.tolist() == [len(g) for g in grams]
        # a doc's ids come sorted, and packed big-endian ids sort like
        # their zero-padded strings, so zip pairs each gram with its id
        pairs = set(zip((g for gs in grams for g in gs), ids.tolist()))
        assert len(pairs) == len({g for g, _ in pairs}) == len({v for _, v in pairs})

    @pytest.mark.parametrize("k", [7, 40])
    @pytest.mark.parametrize("layout", ["sliced", "large_string", "nulls"])
    def test_hashed_ids_match_python_horner(self, k, layout):
        """k > 6 ids equal a pure-Python Horner reference on a sliced
        array (offset ≠ 0), a ``large_string`` array and one with NULL
        slots; NULL slots have no shingles."""
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(k)
        words = ["the", "quick", "fox", "a", "jumps", "over", "lazy", "dog0"]
        texts = [
            " ".join(rng.choice(words, size=int(rng.integers(0, 30))))
            for _ in range(300)
        ]
        texts[:4] = ["", "a", "x" * (k - 1), "x" * k]
        if layout == "nulls":
            texts[5::7] = [None] * len(texts[5::7])
            arr = pa.array(texts)
        elif layout == "large_string":
            arr = pa.array(texts, pa.large_string())
        else:
            arr = pa.array(["pad one", "pad two"] + texts + ["tail"])[2:-1]
            assert arr.offset == 2
        _assert_ids_match_python(arr, texts, k)
class TestAssignCells:
    def test_matches_joined_maxby_reference(self, spark):
        """The mapInArrow assignment must reproduce the round-7 broadcast
        join + max_by(struct(sim, -cid)) plan exactly, ties included."""
        import numpy as np

        from myzql_binlog_connector_spark.operators import similarity

        emb = similarity.clustered_embeddings(spark, n=300, n_clusters=5)
        cids, C, cnrm = similarity._kmeans_centroids_np(
            emb, 50, "vec_id", "embedding", 64
        )
        got = {
            r.vec_id: r._cell
            for r in similarity._assign_cells(
                emb, cids, C, cnrm, "vec_id", "embedding", 64
            ).collect()
        }
        cents = spark.createDataFrame(
            [
                (int(cid), [float(x) for x in vec], float(nr))
                for cid, vec, nr in zip(cids, C, cnrm)
            ],
            "_cid bigint, _cvec array<double>, _cnrm double",
        )
        c = emb.withColumn(
            "_vnrm", similarity.norm_arrow(F.col("embedding"), 64)
        )
        sim_c = F.round(
            similarity.dot_arrow(F.col("embedding"), F.col("_cvec"), 64)
            / (F.col("_vnrm") * F.col("_cnrm")),
            4,
        )
        scored = c.join(F.broadcast(cents)).select(
            "vec_id", F.col("_cid"), sim_c.alias("_csim")
        )
        best = F.max_by(
            F.col("_cid"), F.struct(F.col("_csim"), -F.col("_cid"))
        )
        ref = {
            r.vec_id: r._cell
            for r in scored.groupBy("vec_id")
            .agg(best.alias("_cell"))
            .collect()
        }
        assert got == ref

    def test_train_cap_raises_before_collecting(self, spark, monkeypatch):
        """An over-cap training sample raises before the driver holds more
        than cap + 1 of its rows."""
        from myzql_binlog_connector_spark.operators import similarity

        emb = similarity.clustered_embeddings(spark, n=300, n_clusters=5)
        cap = 5  # stride 50 samples every 6th id: 50 rows
        monkeypatch.setattr(similarity, "KMEANS_TRAIN_CAP", cap)
        collected = []
        cls = type(emb)
        for name in ("collect", "take", "tail", "toLocalIterator"):
            real = getattr(cls, name)

            def spy(df, *a, _real=real, **kw):
                out = list(_real(df, *a, **kw))
                collected.append(len(out))
                return out

            monkeypatch.setattr(cls, name, spy)
        with pytest.raises(ValueError, match="cap 5"):
            similarity._kmeans_centroids_np(emb, 50, "vec_id", "embedding", 64)
        assert all(n <= cap + 1 for n in collected)

    def test_round4_half_away_from_zero(self):
        import numpy as np

        from myzql_binlog_connector_spark.operators.similarity import _round4

        # 0.15625 is exactly representable and ties at the 5th decimal:
        # HALF_UP (Spark/DuckDB) rounds to 0.1563; np.round gives 0.1562
        assert _round4(np.array([0.15625]))[0] == pytest.approx(0.1563)
        assert _round4(np.array([-0.15625]))[0] == pytest.approx(-0.1563)
        assert _round4(np.array([0.12344999]))[0] == pytest.approx(0.1234)


class TestAdaptiveFeedChunks:
    def test_catchup_backlog_plans_many_partitions(self, spark, tmp_path):
        """A multi-commit backlog must fan out to ~min(cores, bytes/8MB)
        partitions instead of the old fixed-128MB handful; tiny backlogs
        must still plan at least one task per commit and an explicit
        chunkBytes must win."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.streaming.feed import (
            MIN_CHUNK_BYTES,
            _head_version,
            _plan_commits,
        )

        root = str(tmp_path / "t")
        table = BucketedLakeTable(
            spark, root, ["event_id"], n_buckets=4
        )
        for b in range(3):
            batch = spark.range(b * 100, b * 100 + 100).select(
                F.col("id").alias("event_id"),
                F.concat(F.lit("v" * 2000), F.col("id")).alias("v"),
                F.lit(False).alias("_deleted"),
                (F.lit(b + 1)).cast("bigint").alias("_gtid"),
                F.lit(0).cast("bigint").alias("_event_seq"),
                F.lit(0).cast("bigint").alias("_event_row_index"),
            )
            table.merge(batch, batch_id=b)
        head = _head_version(root)
        assert head == 3
        parts = _plan_commits(root, 0, head, allow_gaps=False)
        # tiny backlog ⇒ the 8 MB floor keeps one task per commit
        assert len(parts) == 3
        # explicit chunkBytes wins: 1-byte budget ⇒ one task per file
        parts_fine = _plan_commits(
            root, 0, head, allow_gaps=False, chunk_bytes=1
        )
        assert len(parts_fine) > len(parts)
        assert MIN_CHUNK_BYTES <= 128 << 20

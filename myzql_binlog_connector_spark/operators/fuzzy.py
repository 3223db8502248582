"""Fuzzy-dedup operators: MinHash+LSH, SimHash, n-gram Jaccard.

All md5-based so the DuckDB oracles compute identical values.  Shingles
come from the one Arrow kernel :func:`..text.shingle_ids`; the rest is
column algebra (hash → groupBy min / bit-vote) — distributed, shuffle only
on the aggregation keys.

Scale shape (10^9 docs):
  * minhash signatures: for k ≤ 6 one shuffle-free ``mapInArrow`` pass
    (md5 once per distinct shingle per batch); beyond that one explode of
    shingles and one groupBy(doc) with n_hashes partial-aggregating mins —
    map-side combine keeps the shuffle at one row per doc.
  * LSH candidate pairs: self-equi-join on (band, minhash) — the classic
    banding join; band buckets are high-cardinality so AQE handles skew.
  * verification: exact Jaccard only on candidates — either a CSR
    broadcast of per-doc shingle-id sets with one vectorized intersect
    per Arrow batch (byte-capped), or row-level (pair, shingle)
    equi-joins at unbounded scale (see :func:`ngram_jaccard`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import PACKED_K, h60, h60_sql, map_shingle_ids, normalize_sql, shingle_rows

#: DataFrames persisted by fuzzy operators for intra-query reuse.  A lazy
#: return value can't know when its caller materializes it, so blocks are
#: released (a) explicitly via :func:`release_cached`, and (b) automatically
#: at the start of the next top-level fuzzy operator call — bounding cached
#: storage to one query's intermediates in a long-lived driver.
_PERSISTED: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every block cached by fuzzy operators; returns the count.
    Call after materializing an operator's result (bench.py does)."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass
        n += 1
    return n


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure enough input partitions for the compute-heavy hash stages: a
    small-file source (1-2 partitions) would serialize the explode+md5 work.
    No-op when the source is already well partitioned (the 100 TB case).
    Partition count comes from the file listing — ``df.rdd`` would force a
    plan-to-RDD conversion on every operator call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_in = len(df.inputFiles())
    except Exception:
        n_in = 0  # non-file source: assume the planner partitioned it
    if 0 < n_in < target:
        return df.repartition(target, *[F.col(c) for c in cols]) if cols else df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}): min over shingles of the i-th hash.

    Hash i uses half ``i % 2`` (15 hex chars = 60 bits) of
    ``md5(f"{i//2}:" + shingle)`` — truly independent hash functions at
    ceil(n/2) digests per shingle.  (A Kirsch-Mitzenmacher h1+i·h2 scheme
    was tried first: its linear dependence correlates LSH bands, inflating
    the candidate set ~5× and shifting all cost into Jaccard verification.)"""
    spread = _spread(df.select(id_col, text_col), id_col)
    if shingle_k <= PACKED_K:
        # Packed fast path (round 8): ONE shuffle-free mapInArrow pass —
        # per batch, the shared kernel (text.shingle_ids) yields every
        # doc's DISTINCT k-grams (normalized text is ASCII by construction,
        # so k ≤ 6 grams pack injectively into int64); md5 then runs once per
        # distinct shingle IN THE BATCH (hashlib over the reconstructed
        # bytes — identical digests to the JVM md5 of the same string),
        # and per-doc minima fall out of segmented np.minimum.reduceat.
        # A doc's row is one input row, so each batch emits FINAL
        # signatures: no explode (one row per character position), no
        # per-row md5 (boilerplate repeats shingles ~1000×), no groupBy
        # exchange.  Worst case (all-distinct vocab) degrades to one
        # hashlib md5 per shingle row — the same hash count the exploded
        # plan pays, minus its shuffle.
        return _minhash_signatures_packed(
            spread, text_col, id_col, n_hashes, shingle_k
        )
    # NULL-text contract (parity with the packed path): no shingles ⇒ no
    # signature row — the bare explode would emit one NULL shingle whose
    # md5 is NULL, yielding an all-NULL signature row instead
    exploded = shingle_rows(
        spread.filter(F.col(text_col).isNotNull()), text_col, id_col,
        k=shingle_k,
    )
    # Per shingle row only the md5 + two fixed-width hex SUBSTRINGS are
    # computed; the base-16→10 conversion is deferred past the min
    # aggregate.  Equal-length lowercase hex compares lexicographically ==
    # numerically (digits 0-9 < a-f in ASCII), so min(hex) is the hex of
    # min(value) and conv runs once per (doc, hash) instead of once per
    # (shingle row, hash) — conv is a string-walking BigInteger-style
    # expression and dominated this stage's per-row cost at bench scale.
    cols = []
    for seed in range((n_hashes + 1) // 2):
        m = F.md5(F.concat(F.lit(f"{seed}:"), F.col("sh")))
        cols.append(F.substring(m, 1, 15).alias(f"h_{2*seed}"))
        if 2 * seed + 1 < n_hashes:
            cols.append(F.substring(m, 16, 15).alias(f"h_{2*seed+1}"))
    hashed = exploded.select(id_col, *cols)
    aggs = [
        F.conv(F.min(F.col(f"h_{i}")), 16, 10).cast("long").alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _minhash_signatures_packed(docs, text_col, id_col, n_hashes, k):
    """Fast-path body of :func:`minhash_signatures` — see its inline
    comment.  Emits ``(id, mh_0..mh_{n-1})`` with values bit-identical to
    the exploded md5 plan (same digests, same halves, same minima)."""
    import hashlib

    n_seeds = (n_hashes + 1) // 2
    seed_prefixes = [f"{s}:".encode() for s in range(n_seeds)]

    def emit(ids, doc, vals, counts):
        import numpy as np
        import pyarrow as pa

        uniq, inv = np.unique(vals, return_inverse=True)
        table = np.empty((uniq.size, n_hashes), dtype=np.int64)
        for ii, pv in enumerate(uniq):
            sh = int(pv).to_bytes(k, "big").rstrip(b"\x00")
            for s in range(n_seeds):
                hx = hashlib.md5(seed_prefixes[s] + sh).hexdigest()
                table[ii, 2 * s] = int(hx[:15], 16)
                if 2 * s + 1 < n_hashes:
                    table[ii, 2 * s + 1] = int(hx[15:30], 16)
        # every non-NULL doc has ≥1 shingle (empty text yields the ""
        # shingle), so the segment starts cover exactly the kept docs.
        # Gather one CONTIGUOUS hash column at a time — a (pairs ×
        # n_hashes) gather followed by strided-column reduceat paid ~4× in
        # memory traffic
        kept = counts > 0
        starts = np.cumsum(counts[kept]) - counts[kept]
        return [ids.filter(pa.array(kept))] + [
            pa.array(
                np.minimum.reduceat(np.ascontiguousarray(table[:, i])[inv], starts),
                type=pa.int64(),
            )
            for i in range(n_hashes)
        ]

    return map_shingle_ids(
        docs, text_col, id_col, k, emit,
        {f"mh_{i}": "bigint" for i in range(n_hashes)},
    )


def minhash_sig_select_sql(n_hashes: int = 8) -> str:
    """``min(...) AS mh_i`` aggregate list over shingled(sh) — DuckDB
    mirror of the split-digest scheme."""
    exprs = []
    for i in range(n_hashes):
        seed, part = i // 2, i % 2
        h = f"md5(concat('{seed}:', sh))"
        exprs.append(
            f"min(CAST(concat('0x', substring({h},{1 + 15 * part},15)) AS BIGINT)) AS mh_{i}"
        )
    return ", ".join(exprs)


def minhash_signature_sql(
    table: str,
    text_expr: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 5,
) -> str:
    """DuckDB mirror of :func:`minhash_signatures`."""
    return f"""
    WITH {shingle_cte_sql(table, text_expr, id_col, shingle_k)}
    SELECT {id_col}, {minhash_sig_select_sql(n_hashes)} FROM shingled GROUP BY {id_col}
    """


def shingle_cte_sql(
    table: str,
    text_expr: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    max_len: int = 100_000,
) -> str:
    """CTE body producing ``shingled(id, sh)`` — distinct char-k-gram
    shingles.  DuckDB's generate_series cannot take lateral column params,
    so positions come from a constant series joined on length."""
    norm = normalize_sql(text_expr)
    return f"""normed AS (
      SELECT {id_col}, {norm} AS n FROM {table}
    ), nums AS (
      SELECT unnest(range(1, {max_len + 1})) AS i
    ), shingled AS (
      SELECT DISTINCT {id_col},
             CASE WHEN length(n) <= {shingle_k} THEN n
                  ELSE substring(n, CAST(i AS INT), {shingle_k}) END AS sh
      FROM normed JOIN nums ON i <= greatest(1, length(n) - {shingle_k} + 1)
    )"""


def min_sig_agree(
    n_hashes: int, jaccard_threshold: float, band_rows: int = 2
) -> int:
    """Signature-agreement prefilter bound: candidate pairs must agree on at
    least this many of the ``n_hashes`` minhashes before exact verification.

    A band collision guarantees ``band_rows`` agreements by construction,
    so those carry zero evidence — the cut is on the REMAINING hashes: the
    agreement fraction over them is an unbiased Jaccard estimate, required
    to be ≥ the threshold itself (``band_rows + ceil((n−band_rows)·t)``).
    Like the banding S-curve this trades recall exactly AT the boundary J
    (~35% at t, comparable to the 4-band r=2 collision recall of ~40%
    there) for a ~100× candidate cut; genuinely near-duplicate pairs
    (J ≫ t) pass with probability → 1 (98% at J=0.8, n=8).  A laxer cut
    is ineffective: every band collision already agrees on ≥ band_rows
    hashes, so bounds ≤ band_rows+1 barely prune."""
    import math

    rest = max(1, n_hashes - band_rows)
    return band_rows + max(1, math.ceil(rest * jaccard_threshold))


def sig_agreement_sql(n_hashes: int, a: str = "sa", b: str = "sb") -> str:
    """SQL expression counting minhash agreements between signature rows
    aliased ``a`` and ``b`` — the oracle mirror of the Spark prefilter."""
    return " + ".join(
        f"(CASE WHEN {a}.mh_{i} = {b}.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
    band_rows: int = 2,
) -> DataFrame:
    """Classic b×r LSH banding: signatures split into b = n_hashes/band_rows
    bands of r rows; candidates must agree on ALL r hashes of some band
    (r=1 floods the candidate set on corpora with shared common shingles —
    r≥2 keeps the false-candidate rate quadratic-safe at 10^9 docs), then a
    signature-agreement prefilter (:func:`min_sig_agree` of the already-
    computed minhashes must match — an unbiased Jaccard estimate), then
    exact shingle-Jaccard ≥ threshold verifies the survivors.  Without the
    prefilter, band collisions on corpora with shared boilerplate emit
    ~2000:1 false candidates and exact verification dominates the runtime;
    with it the verifier sees only plausibly-similar pairs.

    One full shingle pass total: signatures shingle the whole corpus once;
    verification re-shingles only the candidate documents and computes
    Jaccard from row-level (pair, shingle) equi-joins — no collect_set
    arrays ever ship through a join (they'd blow task memory at 10^9
    docs with long documents)."""
    release_cached()  # free blocks left by a previous fuzzy query
    # the signature frame feeds the banding join on BOTH sides — persist
    # so the corpus-wide shingle pass runs once (doc-count-sized frame)
    sigs = _persist_tracked(
        minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    )
    n_bands = n_hashes // band_rows
    # band key = the band's r minhashes THEMSELVES (long columns — equality
    # of the (band, mh…r) tuple is exactly equality of the old
    # "_"-concatenated string key, minus building 4 strings per signature
    # and comparing strings across every one of the ~50M band-collision
    # probes); the FULL signature rides along (n_hashes ints per band row —
    # a few MB at corpus scale), so the agreement prefilter evaluates
    # INSIDE the banding join output: no candidate-scale joins back against
    # the signature frame, and the distinct() dedupes the ~100×-smaller
    # prefiltered stream
    bands = sigs.select(
        id_col,
        *[F.col(f"mh_{i}") for i in range(n_hashes)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"mh_{b * band_rows + j}").alias(f"bk_{j}")
                            for j in range(band_rows)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bm"),
    ).select(
        id_col,
        *[f"mh_{i}" for i in range(n_hashes)],
        "bm.band",
        *[f"bm.bk_{j}" for j in range(band_rows)],
    )
    m = min_sig_agree(n_hashes, jaccard_threshold, band_rows)
    l, r = bands.alias("l"), bands.alias("r")
    agree = None
    for i in range(n_hashes):
        term = (F.col(f"l.mh_{i}") == F.col(f"r.mh_{i}")).cast("int")
        agree = term if agree is None else agree + term
    # the agreement prefilter rides IN the join condition: the hash join
    # evaluates it per probed pair before emitting the row, so the ~99% of
    # band collisions that fail it never materialize into a downstream
    # operator (a separate .filter() handed every collision pair across
    # an operator boundary first)
    join_cond = (
        (F.col("l.band") == F.col("r.band"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        & (agree >= F.lit(m))
    )
    for j in range(band_rows):
        join_cond = join_cond & (F.col(f"l.bk_{j}") == F.col(f"r.bk_{j}"))
    cand = (
        l.join(r, join_cond)
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    # surviving candidate pairs are re-read several times by the verifier
    # (ids, intersection, base) — persist so banding + prefilter run once;
    # the frame is candidate-sized, orders of magnitude below the corpus.
    # Tracked: released by release_cached() / the next fuzzy operator call.
    cand = _persist_tracked(cand)
    return ngram_jaccard(
        df, cand, text_col, id_col, shingle_k, threshold=jaccard_threshold,
        release_first=False,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash): per-token 60-bit hash votes on each of ``bits`` bit
    positions; bit set when the weighted vote is positive."""
    from .text import normalize_text, tokens

    toks = _spread(df.select(id_col, text_col), id_col).select(
        id_col, F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok")
    )
    hashed = toks.withColumn("h", h60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def simhash_sql(
    table: str,
    text_expr: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> str:
    norm = normalize_sql(text_expr)
    toks = f"CASE WHEN {norm}='' THEN [] ELSE regexp_split_to_array({norm}, '\\s+') END"
    h = h60_sql("tok")
    votes = ", ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    bitsum = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col}, unnest({toks}) AS tok FROM {table}
    ), votes AS (
      SELECT {id_col}, {votes} FROM toks GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({bitsum} AS BIGINT) AS simhash FROM votes
    """


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming-ball banding (the pigeonhole
    trick: two hashes within ``max_hamming`` bits must agree exactly on at
    least one of ``n_bands`` bit-bands when max_hamming < n_bands) —
    candidates equi-join on (band, band_bits), then an exact popcount(xor)
    verify.  Never all-pairs; the same b×r shape as MinHash banding, so it
    scales identically at 10^9 docs."""
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole needs max_hamming < n_bands")
    sh = simhash(df, text_col, id_col, bits=bits)
    width = bits // n_bands
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bb"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bm"),
    ).select(id_col, "simhash", "bm.band", "bm.bb")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bb") == F.col("r.bb"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_dup_pairs_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """DuckDB mirror of :func:`simhash_dup_pairs`."""
    width = bits // n_bands
    inner = simhash_sql(table, text_expr, id_col, bits=bits).strip()
    band_vals = ", ".join(
        f"({b}, (simhash >> {b * width}) & {(1 << width) - 1})"
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS ({inner}),
    bands AS (
      SELECT {id_col}, simhash, band, bb FROM sh,
      LATERAL (VALUES {band_vals}) AS v(band, bb)
    ),
    cand AS (
      SELECT DISTINCT l.{id_col} AS id_a, r.{id_col} AS id_b,
             l.simhash AS sh_a, r.simhash AS sh_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bb = r.bb AND l.{id_col} < r.{id_col}
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, over LSH candidates or a provided pair set)
# ---------------------------------------------------------------------------


def _doc_shingle_sets(docs, text_col: str, id_col: str, shingle_k: int):
    """``(id, sids array<bigint>)`` — each doc's DISTINCT shingle ids, for
    the broadcast verifier.

    One shuffle-free ``mapInArrow`` over :func:`..text.shingle_ids`: every
    doc's distinct window ids come straight off the Arrow string buffer
    and leave as one list column — no explode, no per-shingle hash
    expression, no ``collect_set`` shuffle.  For ``shingle_k`` ≤ 6 the
    ids are the packed window bytes (exact); beyond that they are Horner
    hashes (see :func:`..text.shingle_ids` for the collision class).  NULL
    text yields no row."""

    def emit(ids, doc, vals, counts):
        import numpy as np
        import pyarrow as pa

        kept = counts > 0
        list_offs = np.concatenate(([0], np.cumsum(counts[kept])))
        return [
            ids.filter(pa.array(kept)),
            pa.ListArray.from_arrays(
                pa.array(list_offs, pa.int32()), pa.array(vals, pa.int64())
            ),
        ]

    return map_shingle_ids(
        docs, text_col, id_col, shingle_k, emit, {"sids": "array<bigint>"}
    )


def _packed_bitsets(rows, cols, n_rows: int, n_cols: int):
    """Per-row bitsets with bit ``cols[j]`` of row ``rows[j]`` set, in
    ``np.packbits(dense, axis=1)`` layout: ``(n_rows, (n_cols + 7) // 8)``
    uint8, most significant bit first.  Set in place, without the 8×
    larger dense bool matrix."""
    import numpy as np

    bits = np.zeros((n_rows, (n_cols + 7) // 8), dtype=np.uint8)
    np.bitwise_or.at(bits, (rows, cols >> 3), (0x80 >> (cols & 7)).astype(np.uint8))
    return bits


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.0,
    verify: str = "auto",
    max_broadcast_shingles: int = 30_000_000,
    release_first: bool = True,
) -> DataFrame:
    """Exact char-n-gram Jaccard for given candidate pairs (id_a, id_b).

    Only the documents appearing in ``pairs`` are shingled (semi-join
    pushdown).  Two verify strategies — the problem is bimodal:

    ``broadcast``  when the candidate documents' total shingle volume fits
        a broadcast (≤ ``max_broadcast_shingles`` int64 ids ≈ 8 bytes each
        — byte-denominated, so a small corpus of huge documents can't blow
        the driver): per-doc shingle-hash id lists are packed into one flat
        CSR array and broadcast; a ``mapInPandas`` verifier computes every
        pair's |A∩B| in ONE vectorized ``np.intersect1d`` per Arrow batch
        (pair-composite keys + bincount — no per-pair Python loop).
        Candidate pairs never shuffle and no shingle arrays ship through a
        join.  This wins when the candidate graph is dense (every doc in
        many pairs): per-doc data moves once, not once per pair.
    ``rows``  the unbounded-scale path: |A∩B| from row-level
        (pair, shingle) equi-joins, |A∪B| = |A|+|B|−|A∩B| from per-doc
        counts.  One row per (doc, gram) — a pathological 100 MB document
        costs rows, not task or driver memory.
    ``auto``  picks ``broadcast`` iff the candidates' total text length
        (an upper bound on their distinct-shingle count — one cheap sum,
        no explode) is under the cap.

    The broadcast verifier identifies shingles by their
    :func:`..text.shingle_ids` — one less shuffle than a join-interned id.
    For ``shingle_k`` ≤ 6 the ids are the packed window bytes, so the
    count is exact; beyond that they are Horner hashes, and a same-doc
    collision (constructible, see :func:`..text.shingle_ids`) would
    perturb one pair's count (the ``rows`` path is collision-free).  When
    the candidate docs' distinct-shingle vocabulary is small enough for
    per-doc bitsets to fit a ≤64 MB broadcast, the verifier switches to
    one AND+popcount per pair over packed bytes — exact, and orders of
    magnitude less work per pair than set intersection.

    Either way the division + rounding happens JVM-side (``F.round``), so
    results are bit-identical across strategies and to the DuckDB oracle.
    Pairs whose docs are absent from ``df`` are dropped (inner-join
    semantics); zero-intersection pairs keep jaccard 0.0."""
    if pairs is None:
        raise ValueError("provide candidate pairs (e.g. from minhash banding)")
    if release_first:
        release_cached()
    spark = df.sparkSession
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs = _spread(df.select(id_col, text_col), id_col).join(
        cand_ids, id_col, "left_semi"
    )
    if verify == "auto":
        # byte-denominated: total candidate text length upper-bounds the
        # distinct-shingle count, and one sum over the candidate docs is
        # far cheaper than materializing the shingle explode just to
        # count it
        total = docs.select(F.sum(F.length(text_col))).collect()[0][0] or 0
        verify = "broadcast" if total <= max_broadcast_shingles else "rows"

    if verify == "broadcast":
        import numpy as np
        import pandas as pd

        # Per-doc distinct shingle-id sets.  Arrow collect either way: the
        # lists land as ONE ListArray (offsets + values buffer) instead of
        # millions of Python ints — the row-based collect() deserialized
        # every shingle hash as an object and dominated the verify stage
        # at bench scale.
        tbl = _doc_shingle_sets(docs, text_col, id_col, shingle_k).toArrow()
        sids_col = tbl.column("sids").combine_chunks()
        offs = np.asarray(sids_col.offsets, dtype=np.int64)
        counts = np.diff(offs)
        flat = np.asarray(sids_col.flatten(), dtype=np.int64)
        offsets = offs[:-1]
        # densify ids so composite keys / bitset columns stay compact
        uniq, inv = np.unique(flat, return_inverse=True)
        flat_dense = inv.astype(np.int64)
        n_sid = max(1, int(uniq.size))
        n_docs = len(counts)
        id2row = {v: i for i, v in enumerate(tbl.column(id_col).to_pylist())}
        dtypes = dict(pairs.dtypes)
        out_schema = (
            f"id_a {dtypes['id_a']}, id_b {dtypes['id_b']}, i bigint, u bigint"
        )

        # Small-vocabulary fast path: when the candidate docs draw their
        # shingles from few enough distinct values that per-doc BITSETS fit
        # a modest broadcast, |A∩B| is one AND + popcount over packed bytes
        # per pair — no sorting, no composite-key materialization.  Exact:
        # the bitset of a distinct-hash set loses nothing.  (Boilerplate-
        # heavy corpora — exactly the ones that flood LSH with candidates —
        # are also the ones with small shingle vocabularies, so the dense
        # path tends to fire precisely when the pair count explodes.)
        packed_width = (n_sid + 7) // 8
        if n_docs * packed_width <= 64 << 20:
            bits = _packed_bitsets(
                np.repeat(np.arange(n_docs), counts), flat_dense, n_docs, n_sid
            )
            bc = spark.sparkContext.broadcast((id2row, counts, bits))

            def verify_fn(batches):
                id2row_, counts_, bits_ = bc.value
                pop = np.unpackbits(
                    np.arange(256, dtype=np.uint8)[:, None], axis=1
                ).sum(axis=1).astype(np.int64)
                for pdf in batches:
                    ra = pdf["id_a"].map(id2row_)
                    rb = pdf["id_b"].map(id2row_)
                    ok = ra.notna() & rb.notna()
                    kept = pdf.loc[ok]
                    ra = ra[ok].to_numpy(dtype=np.int64)
                    rb = rb[ok].to_numpy(dtype=np.int64)
                    if ra.size == 0:
                        yield pd.DataFrame(
                            {"id_a": kept["id_a"], "id_b": kept["id_b"],
                             "i": np.empty(0, np.int64), "u": np.empty(0, np.int64)}
                        )
                        continue
                    i = pop[bits_[ra] & bits_[rb]].sum(axis=1)
                    na, nb = counts_[ra], counts_[rb]
                    yield pd.DataFrame(
                        {"id_a": kept["id_a"].to_numpy(),
                         "id_b": kept["id_b"].to_numpy(),
                         "i": i, "u": na + nb - i}
                    )

        else:
            bc = spark.sparkContext.broadcast(
                (id2row, offsets, counts, flat_dense, n_sid)
            )

            def verify_fn(batches):
                id2row_, offsets_, counts_, flat_, n_sid_ = bc.value

                def gather_keys(rowidx, cnts):
                    # composite key pair_idx * n_sid + sid for every shingle
                    # of every pair-side doc — one flat gather, no per-pair
                    # loop
                    total = int(cnts.sum())
                    excl = np.concatenate(([0], np.cumsum(cnts)[:-1]))
                    idx = np.repeat(offsets_[rowidx] - excl, cnts) + np.arange(total)
                    pair_of = np.repeat(np.arange(cnts.size, dtype=np.int64), cnts)
                    return pair_of * n_sid_ + flat_[idx]

                for pdf in batches:
                    ra = pdf["id_a"].map(id2row_)
                    rb = pdf["id_b"].map(id2row_)
                    ok = ra.notna() & rb.notna()
                    kept = pdf.loc[ok]
                    ra = ra[ok].to_numpy(dtype=np.int64)
                    rb = rb[ok].to_numpy(dtype=np.int64)
                    n_pairs = ra.size
                    if n_pairs == 0:
                        yield pd.DataFrame(
                            {"id_a": kept["id_a"], "id_b": kept["id_b"],
                             "i": np.empty(0, np.int64), "u": np.empty(0, np.int64)}
                        )
                        continue
                    na, nb = counts_[ra], counts_[rb]
                    common = np.intersect1d(
                        gather_keys(ra, na), gather_keys(rb, nb), assume_unique=True
                    )
                    i = np.bincount(common // n_sid_, minlength=n_pairs).astype(np.int64)
                    yield pd.DataFrame(
                        {"id_a": kept["id_a"].to_numpy(), "id_b": kept["id_b"].to_numpy(),
                         "i": i, "u": na + nb - i}
                    )

        # AQE coalesces the small candidate shuffle (~bytes, not compute)
        # into very few partitions, which would serialize the verify UDF —
        # spread pairs across the cluster before the compute-heavy stage
        par = spark.sparkContext.defaultParallelism
        scored = pairs.repartition(par).mapInPandas(verify_fn, out_schema)
        jac = F.round(F.col("i") / F.col("u"), 4)
        return scored.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )

    # rows strategy: the shingle frame is read three times (sizes + two
    # intersection joins) — persist it (tracked; released by
    # release_cached() / the next fuzzy operator call)
    sh = _persist_tracked(
        shingle_rows(docs, text_col, id_col, k=shingle_k).distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    base = pairs.join(inter, ["id_a", "id_b"], "left").na.fill({"i": 0})
    joined = (
        base.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
    )
    jac = F.round(F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i")), 4)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )

"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting,
document fingerprinting, and shingling primitives.  Everything here is pure
``pyspark.sql.functions`` column algebra — JVM-side, whole-stage-codegen —
except the shingle-id kernel (:func:`shingle_ids`), one vectorized
``mapInArrow`` pass over Arrow string bytes.  Each operator
has an exact ANSI-SQL mirror (``*_SQL`` or the builder functions' ``sql=``
docstrings) used by the DuckDB oracles in ``__spark_entry__.py``.

Cross-engine determinism: hashes are md5-based (identical in Spark and
DuckDB); floats are rounded before comparison/ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# normalization / tokens / shingles
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """lower → strip non-[a-z0-9 ] → collapse whitespace → trim.
    SQL mirror: trim(regexp_replace(regexp_replace(lower(x),
    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))

    Computed as ONE regex pass: replacing every maximal run of
    ``[^a-z0-9]`` (bad chars AND spaces together) with a single space is
    exactly the composition of the mirror's two passes — pass 1 maps each
    bad char to a space, pass 2 collapses the resulting space runs, so
    any maximal (bad ∪ space) run ends as one space either way.  Halves
    the per-row regex/string-building cost of every operator built on
    this (shingles, tokens, fingerprints, language ID); the SQL mirror
    keeps the two-pass spelling because the oracle text is frozen."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the *raw* string (empty string → empty array).
    SQL mirror: CASE WHEN trim(x)='' THEN [] ELSE regexp_split_to_array(trim(x), '\\s+') END"""
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: words + punctuation runs counted
    separately (a cheap BPE proxy: splits on boundaries between letter,
    digit and symbol runs).
    SQL mirror: uses the same regexp with regexp_extract_all."""
    # count of maximal runs of [a-zA-Z]+ | [0-9]+ | single non-space symbol
    pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def shingle_rows(df, text_col: str, id_col: str, k: int = 5):
    """(id, sh) rows of character k-gram shingles (with duplicates).

    Built from ``explode(sequence) + substring`` — plain codegen
    expressions.  (Higher-order functions like ``transform`` run
    interpreted in Spark and are ~50× slower on this path.)  Documents
    shorter than k yield one whole-string shingle (substring clamps)."""
    norm = normalize_text(F.col(text_col))
    ex = df.select(F.col(id_col), norm.alias("__n__")).select(
        id_col,
        "__n__",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("__n__") - (k - 1)))
        ).alias("__i__"),
    )
    return ex.select(
        id_col, F.expr(f"substring(__n__, __i__, {k})").alias("sh")
    )


#: the largest k whose shingle ids are the window's bytes themselves
PACKED_K = 6
_FNV64_PRIME = 1099511628211


def shingle_ids(txt, k: int):
    """Every document's DISTINCT char-``k``-gram ids, straight off an Arrow
    ``string``/``large_string`` array (sliced or not): ``(doc, ids,
    counts)``, where ``(doc, ids)`` are the distinct (slot, id) pairs
    sorted by slot then id and ``counts[i]`` is slot i's distinct count —
    0 for a NULL slot (no shingles), at least 1 otherwise.

    The package's one reader of Arrow string bytes.  The text must be
    :func:`normalize_text` output: pure ASCII by construction, so byte
    windows are character windows (a byte ≥ 128 raises — never a silently
    wrong window).  A document shorter than ``k`` (the empty one included)
    has one shingle, its whole string zero-padded on the right to ``k``
    bytes: ``substring(n, 1, k)``'s clamp in :func:`shingle_rows`.

    An id is the Horner sum ``Σ b_j · B^(k-1-j)`` over the window's k
    bytes, mod 2^64, with the base fixed by ``k`` alone:

    * ``k ≤ PACKED_K`` (6): ``B = 256``, so the id IS the window's bytes
      packed big-endian into an int64 — exact and injective (padding
      cannot alias a full window: no real byte is 0), and decodable back
      to the shingle's bytes.
    * ``k > PACKED_K``: ``B`` = the FNV-64 prime.  Collisions are
      constructible, not just unlucky: Horner mod 2^64 is linear in the
      bytes, so windows whose byte differences satisfy
      ``Σ d_j · B^(k-1-j) ≡ 0 (mod 2^64)`` share an id, and structured
      text can hit such differences.  An avalanche finalizer would not
      help — it is a bijection on 64-bit values, so every Horner collision
      stays one.  The id never leaves the job; in decontamination a
      collision can only flag a clean document (the conservative
      direction), and the Jaccard verifier's ``rows`` strategy is exact.

    Per-doc dedup is one ``np.unique`` over a ``(doc << bits) | id``
    composite per slice of ``2^(63-bits)`` docs, so it cannot overflow
    int64 at any batch size; ``bits`` is ``8k`` for packed ids and the
    width of the batch's dense id rank for hashed ones."""
    import numpy as np
    import pyarrow as pa

    n = len(txt)
    if n == 0:
        e = np.empty(0, np.int64)
        return e, e, e
    off_dt = np.int64 if pa.types.is_large_string(txt.type) else np.int32
    bufs = txt.buffers()
    offs = np.frombuffer(
        bufs[1], off_dt, count=n + 1, offset=txt.offset * np.dtype(off_dt).itemsize
    ).astype(np.int64)
    data = (
        np.empty(0, np.uint8) if bufs[2] is None
        else np.frombuffer(bufs[2], np.uint8)[offs[0]: offs[-1]]
    )
    offs -= offs[0]
    if data.size and int(data.max()) >= 128:
        raise ValueError(
            "non-ASCII byte in normalized text — normalize_text guarantees "
            "[a-z0-9 ]; byte-window shingling is unsound"
        )
    lens = np.diff(offs)
    valid = (
        np.ones(n, bool) if txt.null_count == 0
        else txt.is_valid().to_numpy(zero_copy_only=False)
    )
    base = np.int64(256 if k <= PACKED_K else _FNV64_PRIME)
    # every length-k window of the buffer: acc[p] = id of data[p : p + k]
    m = max(data.size - k + 1, 0)
    acc = data[:m].astype(np.int64)
    for j in range(1, k):
        acc = acc * base + data[j: j + m]
    # docs with full windows own positions offs[i] .. offs[i] + len_i - k
    wcnt = np.where(valid & (lens >= k), lens - k + 1, 0)
    total = int(wcnt.sum())
    excl = np.cumsum(wcnt) - wcnt
    doc_of = np.repeat(np.arange(n, dtype=np.int64), wcnt)
    vals = acc[np.repeat(offs[:-1] - excl, wcnt) + np.arange(total)]
    # short docs: one zero-padded whole-string window each
    short = np.nonzero(valid & (lens < k))[0]
    if short.size:
        col = np.arange(k)
        have = col < lens[short, None]
        grams = np.zeros((short.size, k), np.int64)
        grams[have] = data[(offs[short, None] + col)[have]]
        v = grams[:, 0]
        for j in range(1, k):
            v = v * base + grams[:, j]
        doc_of = np.concatenate((doc_of, short))
        vals = np.concatenate((vals, v))
    if k <= PACKED_K:
        uniq, bits = None, 8 * k
    else:
        uniq, vals = np.unique(vals, return_inverse=True)
        bits = max(1, (uniq.size - 1).bit_length())
    step = 1 << (63 - bits)
    doc_parts, id_parts = [], []
    for lo in range(0, n, step):
        sel = (doc_of >= lo) & (doc_of < lo + step) if n > step else slice(None)
        comp = np.unique(((doc_of[sel] - lo) << bits) | vals[sel])
        doc_parts.append((comp >> bits) + lo)
        id_parts.append(comp & ((1 << bits) - 1))
    doc = np.concatenate(doc_parts)
    ids = np.concatenate(id_parts)
    if uniq is not None:
        ids = uniq[ids]
    return doc, ids, np.bincount(doc, minlength=n)


def map_shingle_ids(df, text_col: str, id_col: str, k: int, emit, out_cols: dict):
    """One ``mapInArrow`` pass over ``(id_col, normalize_text(text_col))``:
    each Arrow batch's :func:`shingle_ids` go to ``emit(ids, doc, vals,
    counts)``, which returns the output arrays — the id column first, then
    ``out_cols`` (``{name: spark type}``).  Normalization stays a JVM
    expression; no shingle string and no per-shingle row ever exists."""
    dtypes = dict(df.dtypes)
    names = [id_col, *out_cols]

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            doc, vals, counts = shingle_ids(rb.column(1), k)
            if doc.size:
                yield pa.RecordBatch.from_arrays(
                    emit(rb.column(0), doc, vals, counts), names=names
                )

    schema = ", ".join(
        f"{c} {t}" for c, t in {id_col: dtypes[id_col], **out_cols}.items()
    )
    return df.select(id_col, normalize_text(F.col(text_col)).alias("_n")).mapInArrow(
        fn, schema
    )


def shingle_hash_rows(df, text_col: str, id_col: str, k: int):
    """(id, __h__) rows: each document's distinct :func:`shingle_ids` over
    normalized text, one row per (doc, id)."""

    def emit(ids, doc, vals, counts):
        import pyarrow as pa

        return [ids.take(pa.array(doc)), pa.array(vals, pa.int64())]

    return map_shingle_ids(df, text_col, id_col, k, emit, {"__h__": "bigint"})


def decontaminate(
    docs,
    benchmark,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    bench_text_col: str | None = None,
    keep: str = "clean",
):
    """Benchmark decontamination: drop (or flag) training documents that
    share any character ``k``-gram with an evaluation/benchmark corpus —
    the standard leakage guard before pre-training (published as 8-13
    WORD-gram overlap; ``k=40`` characters ≈ an 8-word window and reuses
    the engine's shingle kernel).

    Shape at 10^9 docs: one :func:`shingle_hash_rows` pass over the
    corpus (the source is repartitioned when it arrives in fewer files
    than cores, or the broadcast semi-join would leave the whole pass in
    one task), the benchmark's distinct shingle ids on the other side of
    a broadcast LEFT SEMI equi-join — eval sets are small, and joining on
    a 64-bit id instead of the raw 40-char shingle cuts the broadcast ~5×;
    a contaminated-id semi/anti join back onto the docs frame finishes
    it.  A hash collision (k > 6, see :func:`shingle_ids`) can only flag
    a clean document, never keep a contaminated one.  ``keep="clean"`` returns the
    decontaminated corpus, ``keep="contaminated"`` the flagged docs (for
    auditing)."""
    bt = bench_text_col or text_col
    src = docs.select(id_col, text_col)
    sc = docs.sparkSession.sparkContext
    try:
        n_in = len(docs.inputFiles())
    except Exception:
        n_in = 0
    if 0 < n_in < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism, id_col)
    # shingle ids (see shingle_ids) never leave this job: both sides of
    # the semi-join compute the same function and the output is a
    # membership decision, so no shingle string is ever materialized
    doc_sh = shingle_hash_rows(src, text_col, id_col, k=k)
    bench = benchmark.select(
        F.monotonically_increasing_id().alias("__bid__"), F.col(bt)
    )
    bench_sh = (
        shingle_hash_rows(bench, bt, "__bid__", k=k)
        .select("__h__")
        .distinct()
    )
    # eval sets are small by contract (module docstring) — pin the
    # broadcast so the corpus-sized shingle stream is NEVER shuffled for
    # the semi-join (Catalyst can't estimate the post-shingle size and
    # falls back to a sort-merge join, shuffling every (doc, hash) row)
    hit_ids = (
        doc_sh.join(F.broadcast(bench_sh), "__h__", "left_semi")
        .select(id_col)
        .distinct()
    )
    how = "left_anti" if keep == "clean" else "left_semi"
    return docs.join(hit_ids, id_col, how)


# ---------------------------------------------------------------------------
# md5-based 60-bit hash (identical in Spark and DuckDB)
# ---------------------------------------------------------------------------


def h60(col: Column, seed: int | Column = 0) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of
    md5(seed || ':' || value).
    SQL mirror: CAST(concat('0x', substring(md5(concat(CAST(seed AS VARCHAR), ':', x)),1,15)) AS BIGINT)"""
    seed_c = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return F.conv(
        F.substring(F.md5(F.concat(seed_c, F.lit(":"), col)), 1, 15), 16, 10
    ).cast("long")


def h60_sql(expr: str, seed: str = "0") -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat(CAST({seed} AS VARCHAR), ':', {expr})),1,15)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# language ID (stopword-hit heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "and", "is", "of", "to", "in"),
    "de": ("der", "und", "die", "ist", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "est", "une"),
    "es": ("el", "los", "que", "es", "una", "para"),
}
_LANG_ORDER = ("en", "de", "fr", "es")


def _marker_pattern(lang: str) -> str:
    # normalized text is space-separated [a-z0-9]+ tokens, so \b-anchored
    # alternation counts exactly the tokens equal to a marker (with dups)
    return r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"


def lang_hits(col: Column, lang: str) -> Column:
    """Marker-token occurrences in the normalized text.  ``regexp_count``
    is whole-stage-codegen; the earlier ``F.filter(tokens, …)`` form ran
    the lambda interpreted (~50× slower) and was re-evaluated per branch."""
    return F.regexp_count(normalize_text(col), F.lit(_marker_pattern(lang)))


def lang_id(col: Column) -> Column:
    """argmax of marker hits, ties broken by _LANG_ORDER; no hits → 'und'.

    Each language's hit count is evaluated once: the candidates are packed
    into orderable structs (hits, -order_rank, lang) and ``greatest`` picks
    the winner — no per-branch re-evaluation, no higher-order functions."""
    cands = [
        F.struct(
            lang_hits(col, lang).alias("h"),
            F.lit(-i).alias("r"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(_LANG_ORDER)
    ]
    best = F.greatest(*cands)
    return F.when(best["h"] <= 0, F.lit("und")).otherwise(best["lang"])


def lang_hits_sql(expr: str, lang: str) -> str:
    # DuckDB single-quoted strings keep backslashes literal — no re-escape
    norm = normalize_sql(expr)
    return f"len(regexp_extract_all({norm}, '{_marker_pattern(lang)}'))"


def lang_id_sql(expr: str) -> str:
    """DuckDB mirror of :func:`lang_id`."""
    hit_exprs = {lang: lang_hits_sql(expr, lang) for lang in _LANG_ORDER}
    g = "greatest(" + ", ".join(hit_exprs[lang] for lang in _LANG_ORDER) + ")"
    sql = f"CASE WHEN {g} <= 0 THEN 'und' "
    for lang in _LANG_ORDER:
        sql += f"WHEN {hit_exprs[lang]} = {g} THEN '{lang}' "
    return sql + "ELSE 'und' END"


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: length band + alpha ratio + stopword
    presence − symbol noise.  All integer counts + one rounded double.
    SQL mirror: quality_score_sql."""
    n = F.length(col)
    alpha = F.length(F.regexp_replace(col, "[^a-zA-Z]", ""))
    symbols = F.length(F.regexp_replace(col, "[a-zA-Z0-9\\s]", ""))
    stop_hits = lang_hits(col, "en")
    toks = token_count(col)
    score = (
        F.when(n >= 200, F.lit(0.3)).when(n >= 50, F.lit(0.2)).when(n >= 10, F.lit(0.1)).otherwise(F.lit(0.0))
        + F.when(n > 0, 0.4 * alpha / n).otherwise(F.lit(0.0))
        + F.when(toks > 0, F.least(F.lit(0.2), 0.05 * stop_hits)).otherwise(F.lit(0.0))
        - F.when(n > 0, F.least(F.lit(0.3), 1.0 * symbols / n)).otherwise(F.lit(0.0))
    )
    return F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), score)), 4)


def quality_score_sql(expr: str) -> str:
    n = f"length({expr})"
    alpha = f"length(regexp_replace({expr}, '[^a-zA-Z]', '', 'g'))"
    symbols = f"length(regexp_replace({expr}, '[a-zA-Z0-9\\s]', '', 'g'))"
    stop_hits = lang_hits_sql(expr, "en")
    raw_toks = f"CASE WHEN trim({expr})='' THEN [] ELSE regexp_split_to_array(trim({expr}), '\\s+') END"
    toks = f"len({raw_toks})"
    score = (
        f"(CASE WHEN {n} >= 200 THEN 0.3 WHEN {n} >= 50 THEN 0.2 WHEN {n} >= 10 THEN 0.1 ELSE 0.0 END"
        f" + CASE WHEN {n} > 0 THEN 0.4 * {alpha} / {n} ELSE 0.0 END"
        f" + CASE WHEN {toks} > 0 THEN least(0.2, 0.05 * {stop_hits}) ELSE 0.0 END"
        f" - CASE WHEN {n} > 0 THEN least(0.3, 1.0 * {symbols} / {n}) ELSE 0.0 END)"
    )
    return f"round(greatest(0.0, least(1.0, {score})), 4)"


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def winnowing_fingerprints(df, text_col: str = "text", id_col: str = "doc_id",
                           k: int = 5, window: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling k-gram hashes, then the minimum hash of every ``window``
    consecutive positions — the classic local-fingerprint scheme for
    near-dup/plagiarism detection.  Returns distinct (id, fp) rows.

    Pure window-function column algebra; the DuckDB mirror is
    :func:`winnowing_sql`."""
    from pyspark.sql import Window as W

    rows = shingle_rows_with_pos(df, text_col, id_col, k)
    h = h60(F.col("sh"))
    hashed = rows.select(id_col, F.col("pos"), h.alias("h"))
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), W.currentRow)
    )
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .filter(F.col("pos") >= window)  # full windows only
        .select(id_col, "fp")
        .distinct()
    )


def shingle_rows_with_pos(df, text_col: str, id_col: str, k: int = 5):
    """(id, pos, sh) — like shingle_rows but position-carrying (for
    rolling/winnowing schemes that need order)."""
    norm = normalize_text(F.col(text_col))
    ex = df.select(F.col(id_col), norm.alias("__n__")).select(
        id_col,
        "__n__",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("__n__") - (k - 1)))
        ).alias("pos"),
    )
    return ex.select(id_col, "pos", F.expr(f"substring(__n__, pos, {k})").alias("sh"))


def winnowing_sql(table: str = "documents", text_expr: str = "text",
                  id_col: str = "doc_id", k: int = 5, window: int = 4,
                  max_len: int = 100_000) -> str:
    norm = normalize_sql(text_expr)
    h = h60_sql("sh")
    return f"""
    WITH normed AS (
      SELECT {id_col}, {norm} AS n FROM {table}
    ), nums AS (
      SELECT unnest(range(1, {max_len + 1})) AS i
    ), grams AS (
      SELECT {id_col}, CAST(i AS INT) AS pos,
             CASE WHEN length(n) <= {k} THEN n
                  ELSE substring(n, CAST(i AS INT), {k}) END AS sh
      FROM normed JOIN nums ON i <= greatest(1, length(n) - {k} + 1)
    ), hashed AS (
      SELECT {id_col}, pos, {h} AS h FROM grams
    )
    SELECT DISTINCT {id_col},
           min(h) OVER (PARTITION BY {id_col} ORDER BY pos
                        ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS fp
    FROM hashed
    QUALIFY pos >= {window}
    """


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 of the normalized text.
    SQL mirror: md5(<normalize_sql>)"""
    return F.md5(normalize_text(col))


def fingerprint_sql(expr: str) -> str:
    return (
        f"md5(trim(regexp_replace(regexp_replace(lower({expr}), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
    )


def normalize_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )

"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting,
document fingerprinting, and shingling primitives.  Everything here is pure
``pyspark.sql.functions`` column algebra — JVM-side, whole-stage-codegen,
no Python in the hot path — so it runs at 100 TB scan speed.  Each operator
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


def shingle_hash_rows(df, text_col: str, id_col: str, k: int):
    """(id, __h__) rows — 64-bit rolling-hash ids of each document's
    char-``k``-gram shingles over normalized text, per-doc distinct.

    One ``mapInArrow`` pass: normalization stays a JVM expression, then
    each Arrow batch computes every window hash straight off the string
    values buffer with a Horner scan (k shift-multiply passes over the
    whole batch's bytes — no explode, no k-char substring materialization,
    no per-shingle hash expression).  For ``k=40`` the exploded form built
    ~40 bytes of string per input byte before hashing it; here no shingle
    string ever exists.  The hash identity never leaves the job (both
    sides of any join compute the same function), so Rabin-Karp-style
    mixing is enough; collisions ~|A|·|B|/2^64, the same class the
    xxhash64 form carried.  Normalized text is pure ASCII by construction
    (see :func:`normalize_text`), so byte windows == character windows;
    documents shorter than ``k`` contribute one whole-string hash
    (matching ``substring``'s clamp in :func:`shingle_rows`)."""
    import numpy as np
    import pyarrow as pa

    B = np.int64(1099511628211)  # FNV64 prime — odd, mixes well mod 2^64
    dtypes = dict(df.dtypes)

    def hash_fn(batches):
        import pyarrow.compute as pc

        for rb in batches:
            if rb.column(1).null_count:
                # NULL text has no shingles (the minhash paths' contract):
                # a NULL slot's empty value range would hash like ""
                rb = rb.filter(pc.is_valid(rb.column(1)))
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            txt = rb.column(1)
            if isinstance(txt, pa.ChunkedArray):
                txt = txt.combine_chunks()
            bufs = txt.buffers()
            off_dt = (
                np.int64 if pa.types.is_large_string(txt.type) else np.int32
            )
            offs = np.frombuffer(
                bufs[1], off_dt, count=n + 1,
                offset=txt.offset * np.dtype(off_dt).itemsize,
            ).astype(np.int64)
            data = (
                np.frombuffer(bufs[2], np.uint8)
                if bufs[2] is not None
                else np.empty(0, np.uint8)
            )
            lens = np.diff(offs)
            if data.size and int(data[offs[0]: offs[-1]].max(initial=0)) >= 128:
                raise ValueError(
                    "non-ASCII byte in normalized text — normalize_text "
                    "guarantees [a-z0-9 ]; byte-window hashing is unsound"
                )
            if data.size >= k:
                acc = np.zeros(data.size - k + 1, dtype=np.int64)
                d64 = data.astype(np.int64)
                for j in range(k):
                    acc = acc * B + d64[j : data.size - k + 1 + j]
            else:
                acc = np.empty(0, dtype=np.int64)
            wcnt = np.where(lens >= k, lens - k + 1, 0)
            total = int(wcnt.sum())
            excl = np.concatenate(([0], np.cumsum(wcnt)[:-1]))
            pos = np.repeat(offs[:-1] - excl, wcnt) + np.arange(total)
            doc_of = np.repeat(np.arange(n, dtype=np.int64), wcnt)
            vals = acc[pos] if total else np.empty(0, np.int64)
            sidx = np.nonzero(lens < k)[0]
            if sidx.size:
                v = np.zeros(sidx.size, dtype=np.int64)
                so = offs[:-1][sidx]
                sl = lens[sidx]
                for j in range(k):
                    have = j < sl
                    if data.size:
                        idx = np.minimum(so + j, data.size - 1)
                        b = np.where(have, data[idx].astype(np.int64), 0)
                    else:
                        b = np.zeros(sidx.size, np.int64)
                    v = np.where(have, v * B + b, v)
                doc_of = np.concatenate((doc_of, sidx.astype(np.int64)))
                vals = np.concatenate((vals, v))
            # per-doc dedup: sort (doc, hash) pairs, drop consecutive dups
            order = np.lexsort((vals, doc_of))
            doc_s, val_s = doc_of[order], vals[order]
            if doc_s.size:
                keep = np.concatenate(
                    ([True], (doc_s[1:] != doc_s[:-1]) | (val_s[1:] != val_s[:-1]))
                )
                doc_s, val_s = doc_s[keep], val_s[keep]
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(doc_s)), pa.array(val_s, pa.int64())],
                names=[id_col, "__h__"],
            )

    from pyspark.sql import functions as _F

    return df.select(
        id_col, normalize_text(_F.col(text_col)).alias("_n")
    ).mapInArrow(hash_fn, f"{id_col} {dtypes[id_col]}, __h__ bigint")


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

    Shape at 10^9 docs: one shingle pass over the corpus (explode +
    substring, pure codegen; the source is repartitioned when it arrives
    in fewer files than cores, or the broadcast semi-join would leave the
    whole pass in one task), the benchmark's distinct shingle HASHES on
    the other side of a broadcast LEFT SEMI equi-join — eval sets are
    small, and joining on a 64-bit hash instead of the raw 40-char
    shingle cuts the broadcast ~5×; a contaminated-id semi/anti join back
    onto the docs frame finishes it.  ``keep="clean"`` returns the
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
    # rolling-hash shingle identity (see shingle_hash_rows): the hash
    # value never leaves this job — both sides of the semi-join compute
    # the same function and the output is a membership decision — so no
    # shingle string is ever materialized and no per-shingle hash
    # expression runs; the exploded md5/xxhash forms this replaces built
    # ~k bytes of string per input byte first
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


def shingle_sets(df, text_col: str, id_col: str, k: int = 5, out: str = "shingles"):
    """(id, shingles array<string>) with distinct shingles per document —
    the set form used for exact Jaccard (one groupBy shuffle)."""
    return (
        shingle_rows(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias(out))
    )


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

"""Vectorized across-events ROWS decode — the typed fast path's fast path.

The generic per-row parser (``decoder.parse_rows_event``) costs a Python
interpreter pass per value: ~14 µs/row on the transcripts schema, which
would be the dominant term of the decode stage.  This module removes the
per-row interpreter pass for the common case the same way the
reference's native processing worker does with compiled code
(/root/reference/src/event_parser.zig:870-1039): decode is re-expressed as
numpy array programs over a CONCATENATED buffer of many events' bodies.

Key idea: rows inside one event chain sequentially (each offset depends on
the previous row's varlen fields), but row *r* of every event is
independent of row *r* of every other event.  So the kernel batches events
of identical (schema, present bitmaps, DML) into a group, concatenates
their bodies into one uint8 buffer, and iterates row-ordinals: iteration r
decodes row r of EVERY still-active event with a handful of vectorized
gathers (null bitmap, length prefixes, fixed-width combines).  With ~40
rows/event and thousands of events per group, each numpy op amortizes over
thousands of rows — the per-row interpreter cost disappears.

Varlen values never touch per-value Python either: the walk records
(start, len) vectors; one repeat/arange gather builds each string column's
contiguous data buffer, handed to ``pa.StringArray.from_buffers``.
Timestamps collect as int64 microseconds and render through an int-math
digit matrix (vectorized civil_from_days; bit-identical to ``_fmt_ts``,
fuzz-pinned).  Envelope JSON assembles in Arrow C++
(``binary_join_element_wise`` over variant-selected separator pieces)
with a sparse-scatter escape expander matching stdlib/orjson escaping.

Supported: VARCHAR/VAR_STRING, TINY/SHORT/INT24/LONG/LONGLONG, YEAR,
FLOAT/DOUBLE, TIMESTAMP, TIMESTAMP2 — the hot OLTP row shape (and the
whole transcripts schema).  The envelope output declines FLOAT/DOUBLE
(their JSON rendering must match Python ``repr``).  Anything else (JSON,
DECIMAL, BLOB, ENUM/SET, DATE/TIME, partial updates) decodes through the
generic per-row parser; the two paths are equality-fuzzed against each
other, envelope and typed (tests/test_rowvec.py and the property tests).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .constants import ColumnType, DML_DELETE, DML_INSERT, DML_UPDATE
from .decoder import _present_list

_TS2_FRAC_BYTES = (0, 1, 1, 2, 2, 3, 3)

# ---------------------------------------------------------------------------
# plan: per (schema, present bitmap, dml) column programs
# ---------------------------------------------------------------------------


class _ColOp:
    __slots__ = ("out", "op", "w", "lp", "scale", "nb")

    def __init__(self, out, op, w=0, lp=0, scale=1, nb=0):
        self.out = out      # payload output position, or None (walk-only)
        self.op = op        # 'str' | 'int' | 'year' | 'f4' | 'f8' | 'ts' | 'ts2'
        self.w = w          # fixed width in bytes
        self.lp = lp        # length-prefix bytes for 'str'
        self.scale = scale  # ts2 fractional multiplier
        self.nb = nb        # ts2 fractional byte count


def _plan_image(schema, present, kinds, n_payload, allow_float=True):
    """Column programs for one row image, or None if any present column is
    outside the vectorizable set / incompatible with the output kind.
    ``kinds=None`` skips output-kind checks (envelope mode: every present
    column is stored, JSON-rendered by its decoded type)."""
    if not present or len(present) > 64:
        # null bitmap must fit one uint64; a zero-width image would never
        # advance the row walk (the per-row parser rejects such bodies)
        return None

    def bad_kind(i, ok):
        if kinds is None or i >= n_payload:
            return False
        k = kinds[i] if i < len(kinds) else None
        return k not in ok

    ops = []
    for i in present:
        spec = schema.columns[i]
        t, meta = spec.type_code, spec.meta
        out = i if i < n_payload else None
        if t in (ColumnType.VARCHAR, ColumnType.VAR_STRING):
            if bad_kind(i, ("s",)):
                return None
            ops.append(_ColOp(out, "str", lp=1 if meta < 256 else 2))
        elif t in (ColumnType.TINY, ColumnType.SHORT, ColumnType.INT24,
                   ColumnType.LONG, ColumnType.LONGLONG):
            if bad_kind(i, ("i", "f")):
                return None
            w = {ColumnType.TINY: 1, ColumnType.SHORT: 2, ColumnType.INT24: 3,
                 ColumnType.LONG: 4, ColumnType.LONGLONG: 8}[t]
            ops.append(_ColOp(out, "int", w=w))
        elif t == ColumnType.YEAR:
            if bad_kind(i, ("i", "f")):
                return None
            ops.append(_ColOp(out, "year", w=1))
        elif t == ColumnType.FLOAT:
            if not allow_float or bad_kind(i, ("f",)):
                return None
            ops.append(_ColOp(out, "f4", w=4))
        elif t == ColumnType.DOUBLE:
            if not allow_float or bad_kind(i, ("f",)):
                return None
            ops.append(_ColOp(out, "f8", w=8))
        elif t == ColumnType.TIMESTAMP:
            if bad_kind(i, ("s",)):
                return None
            ops.append(_ColOp(out, "ts", w=4))
        elif t == ColumnType.TIMESTAMP2:
            if bad_kind(i, ("s",)):
                return None
            nb = _TS2_FRAC_BYTES[meta]
            # 2-digit units per storage byte (see wire._FRAC_UNIT)
            ops.append(_ColOp(out, "ts2", w=4 + nb, nb=nb,
                              scale=(0, 10_000, 10_000, 100, 100, 1, 1)[meta]
                              if nb else 1))
        else:
            return None
    return ops


class VecPlan:
    """Decode program for one (schema, present1, present2, dml) group."""

    __slots__ = ("dml", "ops1", "ops2", "kinds", "keys", "n_payload")

    def __init__(self, dml, ops1, ops2, kinds, keys, n_payload):
        self.dml = dml
        self.ops1 = ops1
        self.ops2 = ops2
        self.kinds = kinds
        self.keys = keys
        self.n_payload = n_payload


def build_plan(schema, present1, present2, dml, kinds, key_positions, n_payload):
    """VecPlan for the group, or None when the per-row path must handle it."""
    if dml == DML_INSERT:
        ops2 = _plan_image(schema, present1, kinds, n_payload)
        if ops2 is None:
            return None
        return VecPlan(dml, None, ops2, kinds, key_positions, n_payload)
    if dml == DML_DELETE:
        ops1 = _plan_image(schema, present1, kinds, n_payload)
        if ops1 is None:
            return None
        return VecPlan(dml, ops1, None, kinds, key_positions, n_payload)
    ops1 = _plan_image(schema, present1, kinds, n_payload)
    ops2 = _plan_image(schema, present2, kinds, n_payload)
    if ops1 is None or ops2 is None:
        return None
    # pk-change tombstones need every key decodable from BOTH images
    p1set, p2set = set(present1), set(present2)
    if any(k not in p1set or k not in p2set for k in key_positions):
        return None
    return VecPlan(dml, ops1, ops2, kinds, key_positions, n_payload)


def build_env_plan(schema, present1, present2, dml):
    """VecPlan for the envelope (positional-JSON) output: every present
    column is stored (n_payload = all columns); floats fall back (their
    JSON rendering must match Python ``repr`` exactly)."""
    n_cols = len(schema.columns)
    if dml == DML_INSERT:
        ops2 = _plan_image(schema, present1, None, n_cols, allow_float=False)
        if ops2 is None:
            return None
        return VecPlan(dml, None, ops2, None, (), n_cols)
    if dml == DML_DELETE:
        ops1 = _plan_image(schema, present1, None, n_cols, allow_float=False)
        if ops1 is None:
            return None
        return VecPlan(dml, ops1, None, None, (), n_cols)
    ops1 = _plan_image(schema, present1, None, n_cols, allow_float=False)
    ops2 = _plan_image(schema, present2, None, n_cols, allow_float=False)
    if ops1 is None or ops2 is None:
        return None
    return VecPlan(dml, ops1, ops2, None, (), n_cols)


# ---------------------------------------------------------------------------
# the vectorized row walk
# ---------------------------------------------------------------------------


def _combine(big, p, w, be=False):
    """Gather ``w`` bytes at vector positions ``p`` into uint64 (LE/BE)."""
    acc = np.zeros(len(p), np.uint64)
    order = range(w - 1, -1, -1) if be else range(w)
    shift = 0
    for j in order:
        acc |= big.take(p + j, mode="clip").astype(np.uint64) << np.uint64(shift)
        shift += 8
    return acc


def _walk_image(big, pos, ops, sink):
    """Decode one row image for every active event at cursor vector ``pos``.

    ``sink`` is ``None`` (advance offsets only — UPDATE before-images of
    non-key columns) or a dict appended with per-column value chunks.
    Returns the advanced cursor vector.  Gathers clip to ``big``: a
    corrupt length prefix in a group's last event must reach
    :func:`walk_group`'s overrun check, not raise ``IndexError``."""
    n = len(pos)
    nbn = (len(ops) + 7) // 8
    nm = np.zeros(n, np.uint64)
    for j in range(nbn):
        nm |= big.take(pos + j, mode="clip").astype(np.uint64) << np.uint64(8 * j)
    pos = pos + nbn
    for bit, op in enumerate(ops):
        null = ((nm >> np.uint64(bit)) & np.uint64(1)).astype(bool)
        nn = ~null
        want = sink is not None and op.out is not None
        if op.op == "str":
            L = np.zeros(n, np.int64)
            p = pos[nn]
            if op.lp == 1:
                L[nn] = big.take(p, mode="clip")
            else:
                L[nn] = big.take(p, mode="clip").astype(np.int64) | (
                    big.take(p + 1, mode="clip").astype(np.int64) << 8
                )
            if want:
                sink.setdefault(op.out, []).append(("str", pos + op.lp, L, null))
            pos = pos + (op.lp + L) * nn
        else:
            w = op.w
            if want:
                pn = pos[nn]
                if op.op == "int":
                    acc = _combine(big, pn, w)
                    if w < 8:
                        sign = (acc >> np.uint64(8 * w - 1)) & np.uint64(1)
                        acc = acc - (sign << np.uint64(8 * w))
                    vals = np.zeros(n, np.int64)
                    vals[nn] = acc.view(np.int64)
                    sink.setdefault(op.out, []).append(("num", vals, null))
                elif op.op == "year":
                    vals = np.zeros(n, np.int64)
                    vals[nn] = 1900 + big.take(pn, mode="clip").astype(np.int64)
                    sink.setdefault(op.out, []).append(("num", vals, null))
                elif op.op == "f4":
                    acc = _combine(big, pn, 4).astype(np.uint32)
                    vals = np.zeros(n, np.float64)
                    vals[nn] = acc.view(np.float32).astype(np.float64)
                    sink.setdefault(op.out, []).append(("fnum", vals, null))
                elif op.op == "f8":
                    acc = _combine(big, pn, 8)
                    vals = np.zeros(n, np.float64)
                    vals[nn] = acc.view(np.float64)
                    sink.setdefault(op.out, []).append(("fnum", vals, null))
                elif op.op == "ts":
                    secs = _combine(big, pn, 4).view(np.int64)
                    vals = np.zeros(n, np.int64)
                    vals[nn] = secs * 1_000_000
                    sink.setdefault(op.out, []).append(("ts", vals, null))
                else:  # ts2
                    secs = _combine(big, pn, 4, be=True).view(np.int64)
                    us = secs * 1_000_000
                    if op.nb:
                        frac = _combine(big, pn + 4, op.nb, be=True).view(np.int64)
                        us = us + frac * op.scale
                    vals = np.zeros(n, np.int64)
                    vals[nn] = us
                    sink.setdefault(op.out, []).append(("ts", vals, null))
            pos = pos + w * nn
    return pos


def _cat_slot(chunks):
    """Concatenate one column's per-iteration chunks (iteration-major)."""
    kind = chunks[0][0]
    if kind == "str":
        starts = np.concatenate([c[1] for c in chunks])
        lens = np.concatenate([c[2] for c in chunks])
        null = np.concatenate([c[3] for c in chunks])
        return ("str", starts, lens, null)
    vals = np.concatenate([c[1] for c in chunks])
    null = np.concatenate([c[2] for c in chunks])
    return (kind, vals, null)


def walk_group(plan: VecPlan, big, pos0, end):
    """Run the row walk over a group's concatenated buffer.

    Returns ``(ev, ordinal, before, after, counts)``: per-source-row event
    index + row ordinal (iteration-major), the per-column slot dicts for
    each image, and per-event row counts."""
    n_ev = len(pos0)
    pos = pos0.astype(np.int64)
    end = end.astype(np.int64)
    ev = np.arange(n_ev, dtype=np.int64)
    counts = np.zeros(n_ev, np.int64)
    before: dict = {}
    after: dict = {}
    ev_chunks, ord_chunks = [], []
    r = 0
    while True:
        alive = pos < end
        if not alive.all():
            ev, pos, end = ev[alive], pos[alive], end[alive]
        if len(ev) == 0:
            break
        counts[ev] += 1
        ev_chunks.append(ev.copy())
        ord_chunks.append(np.full(len(ev), r, np.int64))
        if plan.dml == DML_INSERT:
            pos = _walk_image(big, pos, plan.ops2, after)
        elif plan.dml == DML_DELETE:
            pos = _walk_image(big, pos, plan.ops1, before)
        else:
            pos = _walk_image(big, pos, plan.ops1, before)
            pos = _walk_image(big, pos, plan.ops2, after)
        if bool((pos > end).any()):
            # a row image read past its event body: truncated/corrupt
            # event (a healthy server never emits one).  Raise for the
            # whole group; in quarantine mode VecCollector.flush retries
            # its events singly so only the corrupt ones are dead-lettered.
            raise ValueError(
                "row image overran event body (truncated or corrupt event)"
            )
        r += 1
    if not ev_chunks:
        return None
    ev_src = np.concatenate(ev_chunks)
    ord_src = np.concatenate(ord_chunks)
    before = {k: _cat_slot(v) for k, v in before.items()}
    after = {k: _cat_slot(v) for k, v in after.items()}
    return ev_src, ord_src, before, after, counts


# ---------------------------------------------------------------------------
# column assembly
# ---------------------------------------------------------------------------


def _run_indices(starts, lens, cum, total, big_len):
    """Index vector covering [starts[i], starts[i]+lens[i]) runs back to
    back: ones + per-run jump corrections + one cumsum — two passes over
    the output instead of repeat+arange+add's four.  int32 when the source
    buffer allows (halves the cumsum+gather memory traffic)."""
    # repeat + arange, NOT a cumsum over the output: numpy's cumsum runs a
    # sequential ~40ns/element loop (measured on this host), while repeat
    # and arange are SIMD/memset-class — 4-5× faster at output scale
    dt = np.int32 if big_len < (1 << 31) and total < (1 << 31) else np.int64
    idx = np.repeat((starts - cum[:-1]).astype(dt), lens)
    idx += np.arange(total, dtype=dt)
    return idx



def _offsets32(cum):
    """Arrow StringArray offsets are int32: a silent cast past 2 GiB of
    string data per batch would corrupt offsets, so refuse loudly (the
    collectors' rows_hint flush bound keeps real batches ~100× smaller)."""
    if int(cum[-1]) >= (1 << 31):
        raise ValueError(
            "string data exceeds the 2 GiB Arrow offset limit in one batch "
            "— lower the collector flush bound"
        )
    return pa.py_buffer(np.ascontiguousarray(cum, np.int32))


def _gather_strings(big, starts, lens, valid):
    """One contiguous data buffer + offsets from scattered (start, len)
    slices — a vectorized runs gather; no per-value Python."""
    lens = np.where(valid, lens, 0)
    cum = np.empty(len(lens) + 1, np.int64)
    cum[0] = 0
    np.cumsum(lens, out=cum[1:])
    total = int(cum[-1])
    if total:
        data = big[_run_indices(starts, lens, cum, total, len(big))]
    else:
        data = np.empty(0, np.uint8)
    return cum, data


def _string_array(big, starts, lens, valid):
    offsets, data = _gather_strings(big, starts, lens, valid)
    if bool(valid.all()):
        validity = None
        n_nulls = 0
    else:
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
        n_nulls = int((~valid).sum())
    arr = pa.StringArray.from_buffers(
        len(starts),
        _offsets32(offsets),
        pa.py_buffer(np.ascontiguousarray(data)),
        validity,
        n_nulls,
    )
    # wire-sourced: corrupt bytes must be repaired here, not downstream
    return _utf8_checked(arr, data)


_D0 = np.uint8(48)  # ord('0')


def _ts_string_array(us, valid):
    """int64 µs → the exact ``_fmt_ts`` rendering, fully vectorized: civil
    date from days (Hinnant's algorithm in int64 vector ops), digits
    scattered into a fixed (n, 26) byte matrix, whole seconds truncated to
    19 chars at gather time.  Zero timestamps are null (zero-date
    analogue).  ~6× faster than Arrow strftime + regex strip and
    bit-identical to the scalar formatter (fuzz-pinned)."""
    valid = valid & (us != 0)
    n = len(us)
    us = np.where(valid, us, np.int64(0))
    secs, frac = np.divmod(us, 1_000_000)
    days, rem = np.divmod(secs, 86400)
    # civil_from_days, vectorized (same int math as decoder._civil_from_days)
    z = days + 719468
    era, doe = np.divmod(z, 146097)
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    mo = np.where(mp < 10, mp + 3, mp - 9)
    y = y + (mo <= 2)
    h, r2 = np.divmod(rem, 3600)
    mi, s = np.divmod(r2, 60)

    mat = np.empty((n, 26), np.uint8)
    mat[:, 4] = mat[:, 7] = 45   # '-'
    mat[:, 10] = 32              # ' '
    mat[:, 13] = mat[:, 16] = 58  # ':'
    mat[:, 19] = 46              # '.'
    for col, val in ((0, y // 1000), (1, y // 100), (2, y // 10), (3, y),
                     (5, mo // 10), (6, mo), (8, d // 10), (9, d),
                     (11, h // 10), (12, h), (14, mi // 10), (15, mi),
                     (17, s // 10), (18, s),
                     (20, frac // 100000), (21, frac // 10000),
                     (22, frac // 1000), (23, frac // 100),
                     (24, frac // 10), (25, frac)):
        mat[:, col] = _D0 + (val % 10).astype(np.uint8)

    lens = np.where(valid, np.where(frac == 0, 19, 26), 0)
    cum = np.empty(n + 1, np.int64)
    cum[0] = 0
    np.cumsum(lens, out=cum[1:])
    total = int(cum[-1])
    flat = mat.reshape(-1)
    starts = np.arange(n, dtype=np.int64) * 26
    data = (
        flat[_run_indices(starts, lens, cum, total, len(flat))]
        if total
        else np.empty(0, np.uint8)
    )
    if bool(valid.all()):
        validity, n_nulls = None, 0
    else:
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
        n_nulls = int((~valid).sum())
    return pa.StringArray.from_buffers(
        n,
        _offsets32(cum),
        pa.py_buffer(np.ascontiguousarray(data)),
        validity,
        n_nulls,
    )


def _num_array(kind, vals, valid, out_kind):
    if out_kind == "f":
        vals = vals.astype(np.float64)
    if bool(valid.all()):
        return pa.array(vals)
    return pa.array(vals, mask=~valid)


def _null_array(out_kind, n):
    t = {"i": pa.int64(), "f": pa.float64(), "s": pa.string()}[out_kind]
    return pa.nulls(n, t)


# ---------------------------------------------------------------------------
# typed assembly: the decode_typed_from_files / apply_files fast path
# ---------------------------------------------------------------------------


def _str_content_neq(big, s1, l1, s2, l2):
    """Row-wise byte inequality of two scattered slice sets with EQUAL
    per-row lengths, compared in 64-byte blocks (short-circuit style: rows
    already known unequal are skipped from later blocks)."""
    m = len(s1)
    neq = np.zeros(m, bool)
    if m == 0:
        return neq
    maxw = int(l1.max()) if m else 0
    span = np.arange(64, dtype=np.int64)
    for off in range(0, maxw, 64):
        live = ~neq & (l1 > off)
        if not live.any():
            break
        li = np.flatnonzero(live)
        w = span[None, :]
        idx1 = np.minimum(s1[li, None] + off + w, len(big) - 1)
        idx2 = np.minimum(s2[li, None] + off + w, len(big) - 1)
        inlen = (off + w) < l1[li, None]
        blk = (big[idx1] != big[idx2]) & inlen
        neq[li] |= blk.any(axis=1)
    return neq


def _compare_keys(big, before, after, keys):
    """Vectorized per-row 'any key changed' over the two images."""
    n = len(next(iter(after.values()))[1])
    changed = np.zeros(n, bool)
    for k in keys:
        b, a = before[k], after[k]
        if b[0] == "str":
            _, bs, bl, bn = b
            _, as_, al, an = a
            diff = (bl != al) | (bn != an)
            same = ~diff & ~bn
            if same.any():
                si = np.flatnonzero(same)
                sub = _str_content_neq(big, bs[si], bl[si], as_[si], al[si])
                diff[si] |= sub
            changed |= diff
        else:
            _, bv, bn = b
            _, av, an = a
            changed |= (bv != av) | (bn != an)
    return changed


def _utf8_checked(arr: pa.Array, data: "np.ndarray | None" = None) -> pa.Array:
    """Validate a WIRE-SOURCED string array; repair invalid UTF-8 by lossy
    replacement.

    Fuzz finding (round 6): the zero-copy string gathers hand corrupt wire
    bytes straight into Arrow string buffers, and the poisoned column then
    rides silently through Spark's bytes-based UTF8String into the table
    (or detonates at a later Arrow transfer) instead of failing at the
    source.  The engine-wide convention for undecodable text is lossy
    replacement (decoder.py uses ``errors="replace"`` on the per-row
    path), so the vectorized path must match.

    Cost discipline: only columns actually gathered from wire bytes are
    checked — generated strings (timestamp digits, constants, schema
    descriptors) are valid by construction and skip this entirely.  When
    the caller still has the gathered ``data`` buffer, a pure-ASCII proof
    (``data.max() < 0x80``, ~6× cheaper than full UTF-8 validation)
    short-circuits the common case; otherwise one vectorized C++
    validation pass runs, and only a column that really contains corrupt
    bytes takes the per-value repair."""
    if data is not None and (data.size == 0 or int(data.max()) < 0x80):
        return arr  # pure ASCII is always valid UTF-8
    try:
        arr.validate(full=True)
        return arr
    except pa.lib.ArrowInvalid:
        return pa.array(
            [
                None if v is None else v.decode("utf-8", "replace")
                for v in arr.view(pa.binary()).to_pylist()
            ],
            pa.string(),
        )


def assemble_typed(plan: VecPlan, big, walk, metas, arrow_schema):
    """Final typed RecordBatch for one group.

    ``metas``: per-event int64 arrays (gtid, event_seq, file_seq,
    log_pos, ...) — see :class:`VecCollector`.  Output row order is
    event-major (event, ordinal, tombstone before upsert) — identical to
    the sequential per-row parser, so parity tests compare element-wise."""
    ev_src, ord_src, before, after, _counts = walk
    n = len(ev_src)
    dml, keys, n_payload, kinds = plan.dml, plan.keys, plan.n_payload, plan.kinds
    keyset = set(keys)

    if dml == DML_UPDATE:
        # event-major order so tombstone row indices interleave exactly as
        # the sequential parser's (INSERT/DELETE skip the sort: their row
        # index is just the ordinal, and output order is free)
        perm = np.lexsort((ord_src, ev_src))
        ev_src, ord_src = ev_src[perm], ord_src[perm]

        def _p(slot):
            if slot[0] == "str":
                return ("str", slot[1][perm], slot[2][perm], slot[3][perm])
            return (slot[0], slot[1][perm], slot[2][perm])

        before = {k: _p(v) for k, v in before.items()}
        after = {k: _p(v) for k, v in after.items()}
        tomb = _compare_keys(big, before, after, keys)
    else:
        tomb = np.zeros(n, bool)
    out_counts = 1 + tomb.astype(np.int64)
    dest_base = np.empty(n + 1, np.int64)
    dest_base[0] = 0
    np.cumsum(out_counts, out=dest_base[1:])
    total = int(dest_base[-1])
    tomb_dest = dest_base[:-1][tomb]
    upsert_dest = dest_base[:-1] + tomb.astype(np.int64)

    ev_out = np.zeros(total, np.int64)
    ev_out[upsert_dest] = ev_src
    ev_out[tomb_dest] = ev_src[tomb]

    deleted = np.zeros(total, bool)
    if dml == DML_DELETE:
        deleted[:] = True
    else:
        deleted[tomb_dest] = True

    src_img = before if dml == DML_DELETE else after
    arrays = []
    for i in range(n_payload):
        kind = kinds[i]
        slot = src_img.get(i)
        emit_val = slot is not None and (dml != DML_DELETE or i in keyset)
        if not emit_val and not (dml == DML_UPDATE and i in keyset):
            arrays.append(_null_array(kind, total))
            continue
        if slot is not None and slot[0] == "str":
            _, starts, lens, null = slot
            s = np.zeros(total, np.int64)
            ln = np.zeros(total, np.int64)
            va = np.zeros(total, bool)
            if emit_val:
                s[upsert_dest] = starts
                ln[upsert_dest] = lens
                va[upsert_dest] = ~null
            if dml == DML_UPDATE and i in keyset:
                _, bs, bl, bn = before[i]
                s[tomb_dest] = bs[tomb]
                ln[tomb_dest] = bl[tomb]
                va[tomb_dest] = ~bn[tomb]
            arrays.append(_string_array(big, s, ln, va))
        elif slot is not None and slot[0] == "ts":
            _, vals, null = slot
            v = np.zeros(total, np.int64)
            va = np.zeros(total, bool)
            if emit_val:
                v[upsert_dest] = vals
                va[upsert_dest] = ~null
            if dml == DML_UPDATE and i in keyset:
                _, bv, bn = before[i]
                v[tomb_dest] = bv[tomb]
                va[tomb_dest] = ~bn[tomb]
            arrays.append(_ts_string_array(v, va))
        elif slot is not None:
            _, vals, null = slot
            v, va = (np.zeros(total, vals.dtype), np.zeros(total, bool))
            if emit_val:
                v[upsert_dest] = vals
                va[upsert_dest] = ~null
            if dml == DML_UPDATE and i in keyset:
                _, bv, bn = before[i]
                v[tomb_dest] = bv[tomb]
                va[tomb_dest] = ~bn[tomb]
            arrays.append(_num_array(slot[0], v, va, kind))
        else:
            arrays.append(_null_array(kind, total))

    # meta columns: _deleted + per-event gathers + within-event row index
    arrays.append(pa.array(deleted))
    arrays.append(pa.array(metas["gtid"][ev_out]))
    arrays.append(pa.array(metas["event_seq"][ev_out]))
    if dml == DML_UPDATE:
        # ev_out is event-major here; base = each event's first output slot
        change = np.empty(total, bool)
        if total:
            change[0] = True
            change[1:] = ev_out[1:] != ev_out[:-1]
        starts_idx = np.flatnonzero(change)
        base = starts_idx[np.cumsum(change) - 1]
        arrays.append(pa.array(np.arange(total, dtype=np.int64) - base + 1))
    else:
        arrays.append(pa.array(ord_src + 1))
    arrays.append(pa.array(metas["file_seq"][ev_out].astype(np.int32)))
    arrays.append(pa.array(metas["log_pos"][ev_out]))
    # payload string columns were UTF-8-checked at gather (_string_array);
    # ts/meta columns are valid by construction
    return pa.RecordBatch.from_arrays(
        [a.cast(f.type) if a.type != f.type else a
         for a, f in zip(arrays, arrow_schema)],
        schema=arrow_schema,
    )


# ---------------------------------------------------------------------------
# envelope assembly: positional-JSON strings via a piece table
# ---------------------------------------------------------------------------

# JSON escape-expansion table: entry b (8-byte stride) holds byte b's exact
# rendering inside a JSON string — itself (len 1) for plain bytes, the
# stdlib/orjson escape sequence (len 2 or 6) for '"', '\\', and controls.
# Non-ASCII bytes pass through (ensure_ascii=False semantics; both stdlib
# json and orjson emit raw UTF-8 — verified byte-for-byte identical).
# Escaping then IS a gather: out = render[run(in_byte*8, len[in_byte])].
def _build_escape_tables():
    import json as _json

    render = np.zeros(256 * 8, np.uint8)
    lens = np.ones(256, np.int64)
    for b in range(256):
        if b < 0x80:
            seq = _json.dumps(chr(b), ensure_ascii=False)[1:-1].encode()
        else:
            seq = bytes([b])
        render[b * 8:b * 8 + len(seq)] = np.frombuffer(seq, np.uint8)
        lens[b] = len(seq)
    return render, lens


_ESC_RENDER, _ESC_LEN = _build_escape_tables()
_ESC_FIRST = _ESC_RENDER[np.arange(256) * 8]
_ESC_LEN8 = _ESC_LEN.astype(np.uint8)  # uint8 lookups are ~10× cheaper


def _ts_digits(us, valid):
    """(flat 26-char byte matrix, per-row lens 19/26, valid) for the
    ``_fmt_ts`` rendering — the digit-assembly core of
    :func:`_ts_string_array`, reusable as JSON value pieces."""
    valid = valid & (us != 0)
    n = len(us)
    us = np.where(valid, us, np.int64(0))
    secs, frac = np.divmod(us, 1_000_000)
    days, rem = np.divmod(secs, 86400)
    z = days + 719468
    era, doe = np.divmod(z, 146097)
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    mo = np.where(mp < 10, mp + 3, mp - 9)
    y = y + (mo <= 2)
    h, r2 = np.divmod(rem, 3600)
    mi, s = np.divmod(r2, 60)
    mat = np.empty((n, 26), np.uint8)
    mat[:, 4] = mat[:, 7] = 45
    mat[:, 10] = 32
    mat[:, 13] = mat[:, 16] = 58
    mat[:, 19] = 46
    for col, val in ((0, y // 1000), (1, y // 100), (2, y // 10), (3, y),
                     (5, mo // 10), (6, mo), (8, d // 10), (9, d),
                     (11, h // 10), (12, h), (14, mi // 10), (15, mi),
                     (17, s // 10), (18, s),
                     (20, frac // 100000), (21, frac // 10000),
                     (22, frac // 1000), (23, frac // 100),
                     (24, frac // 10), (25, frac)):
        mat[:, col] = _D0 + (val % 10).astype(np.uint8)
    lens = np.where(frac == 0, 19, 26)
    return mat.reshape(-1), lens, valid


def _escaped_string_array(big, starts, lens, valid):
    """Gather scattered string values, JSON-escape them, and return them
    as ONE ``pa.StringArray`` (null values render as "" — the separator
    variant supplies the ``null`` text).  The escaped buffer is built in
    value order, so its byte positions ARE the Arrow offsets — no second
    rearrangement.  Escaping: every byte's first rendering byte lands via
    one scatter at ``c2[:-1]`` (its exact output position); the rare
    multi-byte escape sequences finish with tiny follow-up scatters."""
    cum, data = _gather_strings(big, starts, lens, valid)
    n = len(starts)
    if not len(data):
        return pa.StringArray.from_buffers(
            n,
            pa.py_buffer(np.zeros(n + 1, np.int32)),
            pa.py_buffer(b""),
        )
    blens = _ESC_LEN8[data]
    esc_pos = np.flatnonzero(blens > 1)
    if not len(esc_pos):
        # escape-free column: the gathered bytes ARE the output
        return _utf8_checked(pa.StringArray.from_buffers(
            n,
            _offsets32(cum),
            pa.py_buffer(np.ascontiguousarray(data)),
        ), data)
    # escape bytes are sparse → the per-byte output shift is piecewise
    # constant between them: one repeat over the inter-escape segments
    # builds every byte's destination without a 40ns/element cumsum
    extra = blens[esc_pos].astype(np.int64) - 1
    cumx = np.empty(len(extra) + 1, np.int64)
    cumx[0] = 0
    np.cumsum(extra, out=cumx[1:])
    total = len(data) + int(cumx[-1])
    seg_lens = np.diff(np.concatenate((
        np.zeros(1, np.int64), esc_pos + 1, np.array([len(data)], np.int64)
    )))
    dt = np.int32 if total < (1 << 31) else np.int64
    out_idx = np.repeat(cumx.astype(dt), seg_lens)
    out_idx += np.arange(len(data), dtype=dt)
    esc = np.empty(total, np.uint8)
    esc[out_idx] = _ESC_FIRST[data]
    esc_starts = esc_pos + cumx[:-1]  # each escape's own output position
    for j in range(1, 6):
        sel = blens[esc_pos] > j
        if not sel.any():
            break
        esc[esc_starts[sel] + j] = _ESC_RENDER[
            data[esc_pos[sel]].astype(np.int64) * 8 + j
        ]
    # per-value output offsets: input offset + shift at that point
    shift = cumx[np.searchsorted(esc_pos, cum, side="left")]
    # wire-sourced (escapes expand to pure ASCII, so esc's high bytes are
    # exactly the wire's): corrupt UTF-8 is repaired here, not downstream
    return _utf8_checked(pa.StringArray.from_buffers(
        n,
        _offsets32(cum + shift),
        pa.py_buffer(np.ascontiguousarray(esc)),
    ), esc)


def _ts_string_pieces(vals, null):
    """Timestamp JSON value pieces as a StringArray ("" for null)."""
    flat, lens, valid = _ts_digits(vals, ~null)
    n = len(vals)
    lens = np.where(valid, lens, 0)
    cum = np.empty(n + 1, np.int64)
    cum[0] = 0
    np.cumsum(lens, out=cum[1:])
    total = int(cum[-1])
    starts = np.arange(n, dtype=np.int64) * 26
    data = (
        flat[_run_indices(starts, lens, cum, total, len(flat))]
        if total
        else np.empty(0, np.uint8)
    )
    return pa.StringArray.from_buffers(
        n,
        _offsets32(cum),
        pa.py_buffer(np.ascontiguousarray(data)),
    ), valid


def _json_image_array(n_cols, slots, big, n):
    """One image's positional-JSON column (pa.StringArray, no nulls) for
    ``n`` rows.  ``slots``: out_idx → slot dict from the walk.

    Final assembly runs in Arrow C++: per column, one variant-selected
    separator array (``pc.take`` from a 3/6-entry dictionary — the
    separator between column k-1 and k absorbs the closing quote, the
    ``,"ck":`` literal, and either the opening quote or the ``null``
    text) and one value array (escape-expanded strings, digit-matrix
    timestamps, Arrow int→string casts), all concatenated row-wise by
    ``pc.binary_join_element_wise`` in a single pass.  numpy touches only
    the raw value bytes — the JSON output bytes are written exactly once,
    by Arrow."""
    parts = []
    prev_q = None
    for k in range(n_cols):
        slot = slots.get(k)
        # form per row: 0 = quoted value, 1 = bare value, 2 = null
        if slot is None:
            form = np.full(n, 2, np.int32)
            value = None
        elif slot[0] == "str":
            _, starts, lens, null = slot
            form = np.where(null, 2, 0).astype(np.int32)
            value = _escaped_string_array(big, starts, lens, ~null)
        elif slot[0] == "ts":
            _, vals, null = slot
            value, valid = _ts_string_pieces(vals, null)
            form = np.where(valid, 0, 2).astype(np.int32)
        else:  # 'num' int64
            _, vals, null = slot
            form = np.where(null, 2, 1).astype(np.int32)
            casted = pc.cast(pa.array(vals, mask=null), pa.string())
            value = pc.fill_null(casted, "")
        head = '{"c%d":' % k if k == 0 else ',"c%d":' % k
        suffix = ('"', "", "null")
        if k == 0:
            sep_dict = pa.array([head + s for s in suffix])
            var = form
        else:
            sep_dict = pa.array(
                [pq_ + head + s for pq_ in ("", '"') for s in suffix]
            )
            var = form + prev_q * 3
        parts.append(pc.take(sep_dict, pa.array(var)))
        if value is not None:
            parts.append(value)
        prev_q = (form == 0).astype(np.int32)
    tail_dict = pa.array(["}", '"}'])
    parts.append(pc.take(tail_dict, pa.array(prev_q)))
    return pc.binary_join_element_wise(*parts, "")


def _const_str_array(s, n):
    if s is None:
        return pa.nulls(n, pa.string())
    enc = s.encode("utf-8")
    data = np.tile(np.frombuffer(enc, np.uint8), n)
    offs = (np.arange(n + 1, dtype=np.int64) * len(enc)).astype(np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offs), pa.py_buffer(np.ascontiguousarray(data))
    )


def assemble_envelope(plan, big, walk, metas, arrow_schema):
    """Final envelope RecordBatch for one group: before/after positional
    JSON + per-event meta.  No tombstone splitting and row order is free,
    so no sort is ever needed (event_row_index = ordinal + 1)."""
    ev_src, ord_src, before, after, _counts = walk
    n = len(ev_src)
    n_cols = plan.n_payload
    dml = plan.dml
    if dml == DML_INSERT:
        bjson = pa.nulls(n, pa.string())
        ajson = _json_image_array(n_cols, after, big, n)
    elif dml == DML_DELETE:
        bjson = _json_image_array(n_cols, before, big, n)
        ajson = pa.nulls(n, pa.string())
    else:
        bjson = _json_image_array(n_cols, before, big, n)
        ajson = _json_image_array(n_cols, after, big, n)
    arrays = [
        pa.array(metas["timestamp"][ev_src]),
        pa.array(metas["server_id"][ev_src].astype(np.int32)),
        pa.array(metas["log_pos"][ev_src]),
        pa.array(ord_src + 1),
        _const_str_array(metas["database"], n),
        _const_str_array(metas["table_name"], n),
        _const_str_array(dml, n),
        bjson,
        ajson,
        pa.array(metas["gtid"][ev_src]),
        pa.array(metas["event_seq"][ev_src]),
        pa.array(metas["file_seq"][ev_src].astype(np.int32)),
        _const_str_array(metas["payload_schema"], n),
    ]
    # wire-sourced string pieces were UTF-8-checked in
    # _escaped_string_array; every other column is generated/constant
    return pa.RecordBatch.from_arrays(
        [a.cast(f.type) if a.type != f.type else a
         for a, f in zip(arrays, arrow_schema)],
        schema=arrow_schema,
    )


# ---------------------------------------------------------------------------
# collector: groups deferred events, flushes vectorized RecordBatches
# ---------------------------------------------------------------------------


_META_NAMES = ("gtid", "event_seq", "file_seq", "log_pos", "timestamp", "server_id")


class VecCollector:
    """Accumulates ROWS events whose (schema, bitmaps, dml, table) have a
    VecPlan; ``flush()`` decodes every group with the numpy kernel.
    Events whose shape has no plan are never deferred (the session's
    per-row path keeps them).

    The output is the two functions it is given: ``build(schema,
    present1, present2, dml) -> VecPlan | None`` (:func:`build_plan` or
    :func:`build_env_plan`) and ``assemble(plan, big, walk, metas) ->
    RecordBatch`` (:func:`assemble_typed` or :func:`assemble_envelope`).
    ``metas`` holds the per-event int64 arrays (gtid, event_seq,
    file_seq, log_pos, timestamp, server_id) and the group's constant
    database, table_name and payload_schema."""

    def __init__(self, build, assemble):
        self._build = build
        self._assemble = assemble
        self._plans: dict = {}
        self._groups: dict = {}
        self.rows_hint = 0

    def plan_for(self, desc_key, dml, schema, n_cols, p1, p2):
        """``(group key, plan or None)`` for an event's raw present
        bitmaps; the plan is built once per key."""
        key = (desc_key, dml, n_cols, p1, p2, schema.database, schema.table)
        plan = self._plans.get(key, False)
        if plan is False:
            plan = self._plans[key] = self._build(
                schema, _present_list(p1, n_cols), _present_list(p2, n_cols), dml
            )
        return key, plan

    def defer(self, key, plan, payload, rel_pos, ids, consts):
        """``ids``: the event's (gtid, event_seq, file_seq, log_pos,
        timestamp, server_id); ``consts``: its (database, table_name,
        payload_schema), the same for every event of a group."""
        g = self._groups.get(key)
        if g is None:
            g = self._groups[key] = ([], [], [], consts, plan)
        g[0].append(payload)
        g[1].append(rel_pos)
        g[2].append(ids)
        self.rows_hint += max(1, (len(payload) - rel_pos) // 96)

    def _decode_group(self, bufs, rel, ids, consts, plan):
        big, pos0, end = _concat_group(bufs, rel)
        walk = walk_group(plan, big, pos0, end)
        if walk is None:
            return None
        metas = dict(zip(_META_NAMES, np.asarray(ids, np.int64).T))
        metas.update(zip(("database", "table_name", "payload_schema"), consts))
        return self._assemble(plan, big, walk, metas)

    def flush(self, on_error: str = "raise", quarantine=None):
        """Yield one RecordBatch per non-empty group.

        ``on_error="quarantine"``: a failing group retries its events ONE
        AT A TIME through the same kernel so one corrupt body poisons only
        itself; events that still fail go to ``quarantine(file_seq, gtid,
        event_seq, log_pos, payload, err)`` instead of raising."""
        groups, self._groups = self._groups, {}
        self.rows_hint = 0
        for bufs, rel, ids, consts, plan in groups.values():
            try:
                rb = self._decode_group(bufs, rel, ids, consts, plan)
            except Exception:
                if on_error != "quarantine":
                    raise
                for i in range(len(bufs)):
                    try:
                        rb1 = self._decode_group(
                            [bufs[i]], [rel[i]], [ids[i]], consts, plan
                        )
                    except Exception as e:
                        if quarantine is not None:
                            g, es, fs, lp = ids[i][:4]
                            quarantine(fs, g, es, lp, bufs[i], e)
                        continue
                    if rb1 is not None:
                        yield rb1
                continue
            if rb is not None:
                yield rb


def _concat_group(bufs, rel):
    lens = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
    starts = np.empty(len(bufs) + 1, np.int64)
    starts[0] = 0
    np.cumsum(lens, out=starts[1:])
    big = np.empty(int(starts[-1]), np.uint8)
    for i, b in enumerate(bufs):
        big[starts[i]:starts[i + 1]] = np.frombuffer(b, np.uint8)
    return big, starts[:-1] + np.asarray(rel, np.int64), starts[1:]

"""Property-based parity: the vectorized decoders (binlog/rowvec.py) vs the
generic per-value parser, envelope and typed, over random schemas (hot +
cold column types), random values including nulls, and all three DML kinds
(UPDATEs pair each row with its predecessor, so keys change).  The generic
path is the reference-shaped implementation; any divergence in the
vectorized path is a decode bug."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from myzql_binlog_connector_spark.binlog.constants import ColumnType
from myzql_binlog_connector_spark.binlog.decoder import EnvelopeBatch
from myzql_binlog_connector_spark.binlog.encoder import (
    ColumnSpec,
    EventWriter,
    TableSchema,
)

# (spec, value strategy) per column type — hot (inlined) and cold (fallback)
_COLUMN_KINDS = {
    "tiny": (ColumnSpec(ColumnType.TINY), st.integers(-128, 127)),
    "short": (ColumnSpec(ColumnType.SHORT), st.integers(-(1 << 15), (1 << 15) - 1)),
    "int24": (ColumnSpec(ColumnType.INT24), st.integers(-(1 << 23), (1 << 23) - 1)),
    "long": (ColumnSpec(ColumnType.LONG), st.integers(-(1 << 31), (1 << 31) - 1)),
    "longlong": (ColumnSpec(ColumnType.LONGLONG), st.integers(-(1 << 63), (1 << 63) - 1)),
    "double": (ColumnSpec(ColumnType.DOUBLE, 8), st.floats(allow_nan=False, allow_infinity=False)),
    "year": (ColumnSpec(ColumnType.YEAR), st.integers(1901, 2155)),
    "varchar1": (
        ColumnSpec(ColumnType.VARCHAR, 64),
        st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=20),
    ),
    "varchar2": (
        ColumnSpec(ColumnType.VARCHAR, 1000),
        st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=120),
    ),
    "ts2": (
        ColumnSpec(ColumnType.TIMESTAMP2, 6),
        st.integers(1, 2_000_000_000) .map(lambda s: s * 1_000_000 + s % 1_000_000),
    ),
    # odd fsp exercises the 2-digit-unit fraction storage (round-5 fix:
    # was decoding 10x too large on every path)
    "ts2_f1": (
        ColumnSpec(ColumnType.TIMESTAMP2, 1),
        st.integers(1, 2_000_000_000).map(lambda s: s * 1_000_000 + (s % 10) * 100_000),
    ),
    "ts2_f3": (
        ColumnSpec(ColumnType.TIMESTAMP2, 3),
        st.integers(1, 2_000_000_000).map(lambda s: s * 1_000_000 + (s % 1000) * 1_000),
    ),
    "blob": (ColumnSpec(ColumnType.BLOB, 2), st.binary(max_size=40)),
    "decimal": (
        ColumnSpec(ColumnType.NEWDECIMAL, (12 << 8) | 4),
        st.integers(-99_999_999, 99_999_999).map(lambda v: f"{v / 10_000:.4f}"),
    ),
    "json": (
        ColumnSpec(ColumnType.JSON, 4),
        st.dictionaries(st.sampled_from(["a", "b", "c"]), st.integers(0, 99), max_size=3),
    ),
}

schema_strategy = st.lists(
    st.sampled_from(sorted(_COLUMN_KINDS)), min_size=1, max_size=6
)


@st.composite
def table_and_rows(draw):
    kinds = draw(schema_strategy)
    specs = tuple(_COLUMN_KINDS[k][0] for k in kinds)
    schema = TableSchema("p", "fuzz", specs, tuple(f"c{i}" for i in range(len(specs))))
    n_rows = draw(st.integers(1, 6))
    rows = []
    for _ in range(n_rows):
        row = tuple(
            draw(st.one_of(st.none(), _COLUMN_KINDS[k][1])) for k in kinds
        )
        rows.append(row)
    dml = draw(st.sampled_from(["I", "U", "D"]))
    return schema, rows, dml


def _packets(schema, rows, dml):
    w = EventWriter()
    w.format_description()
    w.table_map(77, schema)
    if dml == "I":
        w.write_rows(77, schema, rows)
    elif dml == "D":
        w.delete_rows(77, schema, rows)
    else:
        w.update_rows(77, schema, [(rows[i - 1], r) for i, r in enumerate(rows)])
    return [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]


@settings(max_examples=120, deadline=None)
@given(table_and_rows())
def test_vectorized_envelope_matches_generic(case):
    """rowvec's batched-numpy envelope decode vs the generic per-value
    decoder over random schemas: hot-type-only schemas take the vectorized
    path, schemas with any cold column (blob/decimal/json) must fall back
    — either way output parity is exact (order-insensitive: the vec path
    groups by event shape)."""
    from collections import Counter

    from tests.event_batches import env_collector, envelope_rows

    packets = _packets(*case)

    names = EnvelopeBatch.__slots__
    want = Counter(tuple(rec[n] for n in names) for rec in envelope_rows(packets))
    got = Counter(
        tuple(rec[n] for n in names)
        for rec in envelope_rows(packets, vec=env_collector())
    )
    assert got == want


@settings(max_examples=120, deadline=None)
@given(table_and_rows())
def test_vectorized_typed_matches_generic(case):
    """The typed twin: the typed decoder's ``VecCollector`` vs
    ``process_packet_typed``'s per-row reference on the same schemas,
    including the tombstones of key-changing UPDATEs.  Multiset parity,
    like the envelope test."""
    import json
    from collections import Counter

    from myzql_binlog_connector_spark.functions.decode import (
        _payload_kinds,
        make_typed_decoder,
    )
    from tests.event_batches import event_batch, typed_rows

    schema = case[0]
    packets = _packets(*case)
    n = len(schema.columns)
    desc = json.dumps([[c.type_code, c.meta, int(c.nullable)] for c in schema.columns])
    kinds = tuple(_payload_kinds([desc]))
    keys = tuple(range(min(2, n)))

    want = Counter(zip(*typed_rows(packets, kinds, keys, n)))

    decode_partition, arrow_schema = make_typed_decoder(schema.column_names, list(kinds), keys)
    got = Counter()
    batch = event_batch(packets)
    for rb in decode_partition(iter([batch])):
        t = rb.to_pydict()
        got.update(zip(*[t[f.name] for f in arrow_schema]))
    assert got == want

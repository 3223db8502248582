"""Property-based quarantine isolation: random corruption (byte flips,
truncations) injected into random ROWS events must NEVER damage
neighboring events, on EITHER decode path.

Guarantees fuzzed (both the envelope ``make_decoder`` and the typed
``make_typed_decoder``, in-process — no Spark, so hundreds of corrupt
streams run in seconds):

  1. decode with ``on_error="quarantine"`` never raises;
  2. every UNTOUCHED event's rows decode exactly (values match the
     encoder's input — corruption isolation, the property quarantine
     exists for);
  3. every TOUCHED event is accounted for: it either still yields rows
     (a flip in a don't-care byte or inside a value) or yields a dead
     letter — nothing silently vanishes.

Touched events may legitimately differ between paths (one kernel may
decode an altered-but-parseable body the other rejects), so cross-path
comparison is restricted to the untouched set.
"""

from __future__ import annotations

import json

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from myzql_binlog_connector_spark.binlog.encoder import (
    EventWriter,
    TRANSCRIPTS_SCHEMA,
)
from myzql_binlog_connector_spark.functions.decode import (
    make_decoder,
    make_typed_decoder,
)
from tests.event_batches import event_batch

TS = 1_700_000_000_000_000
NAMES = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# kinds must come from the engine's own mapping (TIMESTAMP2 decodes to a
# formatted string on the per-row path — a hand-rolled "i" only works
# until corruption forces the cold path and the column types clash)
_DESC = json.dumps(
    [[c.type_code, c.meta, int(c.nullable)] for c in TRANSCRIPTS_SCHEMA.columns],
    separators=(",", ":"),
)
from myzql_binlog_connector_spark.functions.decode import _payload_kinds

KINDS = _payload_kinds([_DESC])


def _build_stream(n_events: int, rows_per_event: int):
    """Encode with per-statement TABLE_MAP re-announces (as real binlogs
    do); returns (packets, per_event_rows) with packets labeled
    (kind, rows_event_index): kind ∈ {"rows", "tm", None}."""
    w = EventWriter(server_id=1)
    w.format_description()
    truth = []
    for e in range(n_events):
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        rows = [
            (f"c{e}-{i}", i, "user", f"text {e}/{i}", None, TS + e * 100 + i)
            for i in range(rows_per_event)
        ]
        truth.append(rows)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, rows)
    packets, rows_seen, tm_seen = [], 0, 0
    for off, pkt in w.events:
        if pkt[5] in (30, 31, 32):
            packets.append((("rows", rows_seen), pkt))
            rows_seen += 1
        elif pkt[5] == 19:  # TABLE_MAP: announce for statement tm_seen
            packets.append((("tm", tm_seen), pkt))
            tm_seen += 1
        else:
            packets.append(((None, None), pkt))
    return packets, truth


def _corrupt(blob: bytes, mode: str, pos_frac: float, nbytes: int) -> bytes:
    b = bytearray(blob)
    body_start = 1 + 19 + 10  # OK byte + header + past the prelude-ish
    if mode == "truncate":
        cut = max(body_start, int(len(b) * max(0.3, pos_frac)))
        return bytes(b[:cut])
    pos = body_start + int((len(b) - body_start - 4) * pos_frac)
    for j in range(nbytes):
        p = min(pos + j, len(b) - 5)  # keep the (stale) CRC bytes intact
        b[p] ^= 0xA5
    return bytes(b)


def _feed(packets):
    return [
        (blob, 1, i + 1, i + 1) for i, (_idx, blob) in enumerate(packets)
    ]


def _decode_envelope(packets):
    batch = pa.record_batch(
        [
            pa.array([1] * len(packets), pa.int32()),
            pa.array(list(range(len(packets))), pa.int64()),
            pa.array(list(range(1, len(packets) + 1)), pa.int64()),
            pa.array(list(range(1, len(packets) + 1)), pa.int64()),
            pa.array([p for _i, p in packets], pa.binary()),
        ],
        names=["file_seq", "offset", "gtid", "event_seq", "event_blob"],
    )
    good, dead = [], []
    for rb in make_decoder(on_error="quarantine")(iter([batch])):
        for dml, av in zip(
            rb.column("dml_type").to_pylist(), rb.column("after_values").to_pylist()
        ):
            if dml == "_corrupt":
                dead.append(av)
            else:
                v = json.loads(av)
                good.append((v["c0"], v["c1"], v["c3"]))
    return good, dead


def _decode_typed(packets):
    ds, _schema = make_typed_decoder(NAMES, KINDS, (0, 1), on_error="quarantine")
    good, dead = [], []
    for rb in ds(iter([event_batch(_feed(packets))])):
        cols = rb.to_pydict()
        for i in range(rb.num_rows):
            if cols["_corrupt"][i] is not None:
                dead.append(cols["_corrupt"][i])
            else:
                good.append((cols["conv_id"][i], cols["turn_idx"][i], cols["text"][i]))
    return good, dead


@given(
    n_events=st.integers(3, 8),
    rows_per_event=st.integers(1, 12),
    corrupt=st.lists(
        st.tuples(
            st.sampled_from(["rows", "tm"]),        # target: body or schema
            st.integers(0, 7),                      # which statement
            st.sampled_from(["flip", "truncate"]),
            st.floats(0.0, 0.99),                   # position fraction
            st.integers(1, 16),                     # bytes to flip
        ),
        min_size=1,
        max_size=4,
    ),
)
@settings(max_examples=150, deadline=None)
def test_corruption_never_damages_neighbors(n_events, rows_per_event, corrupt):
    packets, truth = _build_stream(n_events, rows_per_event)
    touched = set()
    out = []
    for (kind, idx), blob in packets:
        for tgt, which, mode, frac, nb in corrupt:
            if kind == tgt and idx == which % n_events:
                blob = _corrupt(blob, mode, frac, nb)
                # a corrupt TABLE_MAP touches ITS statement only — the
                # next statement's re-announce restores the schema
                touched.add(idx)
        out.append(((kind, idx), blob))
    packets = out

    for decode in (_decode_envelope, _decode_typed):
        good, dead = decode(packets)
        got = set(good)
        # 2. untouched events decode exactly
        for e in range(n_events):
            if e in touched:
                continue
            for r in truth[e]:
                assert (r[0], r[1], r[3]) in got, (
                    f"{decode.__name__}: untouched event {e} lost row {r[:2]}"
                )
        # rows from untouched events are never duplicated or altered
        untouched_rows = {
            (r[0], r[1], r[3]) for e in range(n_events) if e not in touched
            for r in truth[e]
        }
        extra = {g for g in got if g[0].split("-")[0].lstrip("c").isdigit()
                 and int(g[0].split("-")[0][1:]) not in touched} - untouched_rows
        assert not extra, f"{decode.__name__}: phantom rows {list(extra)[:3]}"
        # 3. touched statements are accounted for: recognizable rows, a
        # dead letter, or (TABLE_MAP corruption only) rows decoded under
        # a garbled-but-parseable schema — in which case the decode still
        # emitted SOMETHING for the statement, visible as extra output
        # rows beyond the untouched set
        n_untouched_rows = sum(
            len(truth[e]) for e in range(n_events) if e not in touched
        )
        for e in touched:
            has_rows = any(
                isinstance(g[0], str) and g[0].startswith(f"c{e}-") for g in got
            )
            assert has_rows or dead or len(good) > n_untouched_rows, (
                f"{decode.__name__}: touched statement {e} vanished with "
                f"no dead letter"
            )


@given(
    rows_per_event=st.integers(1, 8),
    frac=st.floats(0.0, 0.99),
    nbytes=st.integers(1, 32),
)
@settings(max_examples=80, deadline=None)
def test_flip_only_paths_agree_on_untouched(rows_per_event, frac, nbytes):
    """Envelope and typed paths must return the SAME untouched-row set —
    quarantine parity under corruption, randomized."""
    packets, truth = _build_stream(5, rows_per_event)
    out = []
    for (kind, idx), blob in packets:
        if (kind, idx) == ("rows", 2):
            blob = _corrupt(blob, "flip", frac, nbytes)
        out.append(((kind, idx), blob))
    ge, _de = _decode_envelope(out)
    gt, _dt = _decode_typed(out)
    # the touched event's rows may survive with garbled values (possibly
    # differently garbled per path — JSON-escape vs direct repair), so
    # the parity property is over the UNTOUCHED truth set: both paths
    # must contain exactly those rows
    want = {(r[0], r[1], r[3]) for e in (0, 1, 3, 4) for r in truth[e]}
    assert set(ge) & want == want
    assert set(gt) & want == want
    # and neither path invents rows claiming untouched identity with
    # wrong text: any (conv, turn) of an untouched row must carry the
    # oracle text
    keys = {(c, t): x for c, t, x in want}
    for rows, name in ((ge, "envelope"), (gt, "typed")):
        for c, t, x in rows:
            if (c, t) in keys and not c.startswith("c2"):
                assert x == keys[(c, t)], f"{name}: altered untouched row"

"""Deterministic synthetic CDC workload generator.

Builds a seeded stream of transcripts changes (INSERT/UPDATE/DELETE of
``(conv_id, turn_idx, role, text, tool, ts)`` rows), encodes them as
binlog-format event blobs split across rotating segments, and computes the
ground-truth final table state by pure-Python last-writer-wins replay
(FIXTURES.md F1/F2/F6).  No external data; no wall clock.

Event mix mirrors the reference's observed workload: multi-row events up to
~85 rows/event (README.md:423,428), TABLE_MAP before each ROWS run, one
FORMAT_DESCRIPTION per segment, trailing ROTATE
(/root/reference/src/pipeline.zig:434-460).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from .binlog.encoder import (
    ColumnSpec,
    EventWriter,
    TableSchema,
    TRANSCRIPTS_SCHEMA,
)
from .binlog.constants import ColumnType

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "python", "browser", "calculator")
WORDS = (
    "alpha", "béta", "gamma", "delta", 'quote"inside', "new\nline",
    "emoji😀", "tab\tsep", "omega", "kappa", "sigma", "zeta",
)

TABLE_ID = 1042
BASE_TS_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z

# evolved schema: + score DOUBLE (column add; type-widen handled separately)
TRANSCRIPTS_SCHEMA_V2 = TableSchema(
    database="chat",
    table="transcripts",
    columns=TRANSCRIPTS_SCHEMA.columns + (ColumnSpec(ColumnType.DOUBLE, 8),),
    column_names=TRANSCRIPTS_SCHEMA.column_names + ("score",),
)


@dataclass
class Op:
    kind: str  # INSERT/UPDATE/DELETE
    key: tuple[str, int]
    row: tuple | None  # full values tuple (schema order), None for DELETE
    before: tuple | None = None


@dataclass
class GeneratedStream:
    """segments: list of (file_seq, [(offset, gtid, event_seq, blob), ...])"""

    segments: list = field(default_factory=list)
    truth: dict = field(default_factory=dict)  # key -> row tuple (final state)
    ops: list = field(default_factory=list)
    schema: TableSchema = TRANSCRIPTS_SCHEMA
    evolved: bool = False


def _mk_text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))


def generate_ops(
    seed: int = 42,
    n_convs: int = 40,
    max_turns: int = 8,
    update_frac: float = 0.3,
    delete_frac: float = 0.1,
    hot_frac: float = 0.05,
    hot_weight: int = 20,
    viral_frac: float = 0.0,
    viral_turns: int = 4,
    conv_prefix: str = "",
) -> list[Op]:
    """Insert every turn, then a shuffled tail of updates/deletes.

    A few hot conversations receive ``hot_weight``× the update traffic to
    exercise skew salting (SURVEY.md §2.6 T8).

    ``viral_frac`` > 0 models the one-viral-conversation worst case (a
    single ``conv_id`` absorbing that fraction of ALL change events as an
    update storm over its first ``viral_turns`` turns).  With few distinct
    keys, those rows hash into a handful of buckets at 3×+ the mean —
    exactly the value-skew-inside-one-bucket scenario the merge's
    hot-bucket salt-split exists for."""
    rng = random.Random(seed)
    ops: list[Op] = []
    rows: dict[tuple[str, int], tuple] = {}
    ts = BASE_TS_US
    # conv_prefix namespaces the keys (endurance/multi-chunk fixtures
    # concatenate independently-generated streams without key collisions)
    conv_ids = [f"{conv_prefix}conv-{i:06d}" for i in range(n_convs)]
    n_hot = max(1, int(n_convs * hot_frac))
    hot = set(conv_ids[:n_hot])

    for conv in conv_ids:
        for turn in range(rng.randint(1, max_turns)):
            ts += rng.randint(1, 1000) * 1000
            row = (conv, turn, rng.choice(ROLES), _mk_text(rng),
                   rng.choice(TOOLS) if rng.random() < 0.3 else None, ts)
            rows[(conv, turn)] = row
            ops.append(Op("INSERT", (conv, turn), row))

    keys = list(rows)
    weighted = [k for k in keys for _ in range(hot_weight if k[0] in hot else 1)]
    tail: list[Op] = []
    n_updates = int(len(keys) * update_frac)
    for _ in range(n_updates):
        key = rng.choice(weighted)
        if key not in rows:
            continue
        before = rows[key]
        ts += rng.randint(1, 1000) * 1000
        after = (key[0], key[1], before[2], "edited: " + _mk_text(rng), before[4], ts)
        rows[key] = after
        tail.append(Op("UPDATE", key, after, before))
    if viral_frac:
        viral_conv = conv_ids[0]
        for turn in range(viral_turns):
            if (viral_conv, turn) not in rows:
                ts += rng.randint(1, 1000) * 1000
                row = (viral_conv, turn, rng.choice(ROLES), _mk_text(rng),
                       None, ts)
                rows[(viral_conv, turn)] = row
                ops.append(Op("INSERT", (viral_conv, turn), row))
        # n_viral such that viral ops ≈ viral_frac of the final stream
        base_total = len(ops) + len(tail) + int(len(keys) * delete_frac)
        n_viral = int(base_total * viral_frac / (1.0 - viral_frac))
        for _ in range(n_viral):
            key = (viral_conv, rng.randrange(viral_turns))
            before = rows[key]
            ts += rng.randint(1, 1000) * 1000
            after = (key[0], key[1], before[2], "viral: " + _mk_text(rng),
                     before[4], ts)
            rows[key] = after
            tail.append(Op("UPDATE", key, after, before))
    n_deletes = int(len(keys) * delete_frac)
    # the viral conversation's keys stay alive — deleting one would end
    # the storm the mode exists to model
    del_pool = [k for k in keys if not viral_frac or k[0] != conv_ids[0]]
    del_keys = rng.sample(del_pool, min(n_deletes, len(del_pool)))
    for key in del_keys:
        if key in rows:
            tail.append(Op("DELETE", key, None, rows.pop(key)))
    # deterministic interleave of the update/delete tail
    rng.shuffle(tail)
    # re-apply shuffled tail to compute truth in final order
    return ops + tail


def replay_truth(ops: list[Op]) -> dict:
    """Pure single-threaded LWW oracle (FIXTURES.md F6)."""
    state: dict[tuple[str, int], tuple] = {}
    for op in ops:
        if op.kind == "DELETE":
            state.pop(op.key, None)
        else:
            state[op.key] = op.row
    return state


def encode_stream(
    ops: list[Op],
    n_segments: int = 4,
    max_rows_per_event: int = 85,
    seed: int = 42,
    evolve_at: float | None = None,
    server_id: int = 1,
) -> GeneratedStream:
    """Encode ops into rotating binlog segments.

    ``evolve_at``: fraction of the op stream after which the TABLE_MAP
    switches to TRANSCRIPTS_SCHEMA_V2 (adds ``score`` DOUBLE) — subsequent
    row images carry 7 columns (schema evolution path, SURVEY.md §2 J1/§7.7).
    """
    rng = random.Random(seed + 1)
    out = GeneratedStream(ops=ops, truth=replay_truth(ops))

    # chunk consecutive same-kind ops into multi-row events
    events: list[tuple[str, list[Op]]] = []
    i = 0
    while i < len(ops):
        kind = ops[i].kind
        n = min(rng.randint(1, max_rows_per_event), len(ops) - i)
        chunk = []
        while i < len(ops) and len(chunk) < n and ops[i].kind == kind:
            chunk.append(ops[i])
            i += 1
        events.append((kind, chunk))

    evolve_idx = int(len(events) * evolve_at) if evolve_at is not None else None
    per_seg = max(1, (len(events) + n_segments - 1) // n_segments)
    gtid = 0
    event_seq = 0
    ev_idx = 0
    evolved = False

    for seg in range(1, n_segments + 1):
        w = EventWriter(server_id=server_id, base_timestamp=BASE_TS_US // 1_000_000 + seg)
        seg_rows: list[tuple[int, int, int, bytes]] = []

        def emit(result):
            offset, _endpos, pkt = result
            seg_rows.append((offset, gtid, event_seq, pkt))

        emit(w.format_description())
        chunk_events = events[(seg - 1) * per_seg : seg * per_seg]
        for kind, chunk in chunk_events:
            if evolve_idx is not None and ev_idx >= evolve_idx:
                evolved = True
            ev_idx += 1
            schema = TRANSCRIPTS_SCHEMA_V2 if evolved else TRANSCRIPTS_SCHEMA

            def widen(row):
                if row is None:
                    return None
                if evolved:
                    return row + (round(rng.random(), 6),)
                return row

            gtid += 1
            event_seq += 1
            emit(w.table_map(TABLE_ID, schema))
            event_seq += 1
            if kind == "INSERT":
                emit(w.write_rows(TABLE_ID, schema, [widen(o.row) for o in chunk]))
            elif kind == "UPDATE":
                pairs = [(widen(o.before), widen(o.row)) for o in chunk]
                emit(w.update_rows(TABLE_ID, schema, pairs))
            else:
                emit(w.delete_rows(TABLE_ID, schema, [widen(o.before) for o in chunk]))
            w.tick()
        gtid += 1
        event_seq += 1
        emit(w.rotate(f"binlog.{seg + 1:06d}"))
        out.segments.append((seg, seg_rows))

    if evolved:
        out.schema = TRANSCRIPTS_SCHEMA_V2
        out.evolved = True
        # widen() appended random scores; recompute truth with the score
        # column present-by-null for pre-evolution rows is handled by the
        # applier; the oracle keeps the 6-col projection.
    return out


def generate_stream(
    seed: int = 42,
    n_convs: int = 40,
    n_segments: int = 4,
    evolve_at: float | None = None,
    **kw,
) -> GeneratedStream:
    ops = generate_ops(seed=seed, n_convs=n_convs, **kw)
    return encode_stream(ops, n_segments=n_segments, seed=seed, evolve_at=evolve_at)


# ---------------------------------------------------------------------------
# parquet materialization of the binlog_events source table (FIXTURES.md F2)
# ---------------------------------------------------------------------------


def write_segments_parquet(stream: GeneratedStream, out_dir: str) -> list[str]:
    """One parquet file per segment (= one streaming micro-batch unit; the
    file boundary is the engine's ROTATE analogue), plus the store's
    ``_schemas.json`` sidecar."""
    from .sources.segments import write_segments

    return write_segments(stream.segments, out_dir)

"""Seeded binlog fixtures for the CDC benchmark, cached on disk.

Every input comes from ``genlog``: ``generate_ops`` builds the change
stream from the seed, ``encode_stream`` splits it into binlog segments and
``write_segments_parquet`` lays them out as a segment store.  Encoding and
writing are the slow part (seconds of pure Python), so the segment store is
cached under ``<work>/fixtures/<workload>-seed<seed>-<size>/`` and reused by
any later run with the same key; the op list is regenerated (about a second)
because it is the truth the run is checked against.  None of this is inside
the measured set-up time.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from myzql_binlog_connector_spark.binlog.constants import EventType
from myzql_binlog_connector_spark.genlog import (
    Op,
    encode_stream,
    generate_ops,
    replay_truth,
    write_segments_parquet,
)

# encode_stream's default event size; segment_op_bounds mirrors its chunking
MAX_ROWS_PER_EVENT = 85


@dataclass(frozen=True)
class FixtureSpec:
    workload: str
    n_convs: int
    n_segments: int
    # 1-based segment in whose middle the TABLE_MAP adds a column; None = never
    evolve_segment: int | None = None

    def tag(self, seed: int) -> str:
        ev = f"-ev{self.evolve_segment}" if self.evolve_segment else ""
        return f"{self.workload}-seed{seed}-c{self.n_convs}-s{self.n_segments}{ev}-v1"


@dataclass
class Fixture:
    spec: FixtureSpec
    seed: int
    seg_dir: str
    paths: list[str]  # segment files, in file_seq order
    ops: list[Op]
    # ops[bounds[i]:bounds[i + 1]] are the row changes of paths[i]
    bounds: list[int]

    def seg_ops(self, i: int) -> list[Op]:
        return self.ops[self.bounds[i] : self.bounds[i + 1]]

    def seg_rows(self, i: int) -> int:
        return self.bounds[i + 1] - self.bounds[i]

    def truth_after(self, i: int) -> dict:
        """{(conv_id, turn_idx): (role, text, tool)} once segments 0..i are
        applied — ``genlog.replay_truth`` over that prefix of the ops."""
        state = replay_truth(self.ops[: self.bounds[i + 1]])
        return {k: (r[2], r[3], r[4]) for k, r in state.items()}


def event_sizes(ops: list[Op], seed: int) -> list[int]:
    """Rows per ROWS event, as ``encode_stream`` chunks ``ops``: runs of one
    change kind, each cut at a seeded size of 1..MAX_ROWS_PER_EVENT."""
    rng = random.Random(seed + 1)
    sizes = []
    i = 0
    while i < len(ops):
        kind = ops[i].kind
        n = min(rng.randint(1, MAX_ROWS_PER_EVENT), len(ops) - i)
        j = i
        while j < len(ops) and j - i < n and ops[j].kind == kind:
            j += 1
        sizes.append(j - i)
        i = j
    return sizes


def segment_op_bounds(sizes: list[int], n_segments: int) -> tuple[list[int], int]:
    """Op-index bounds of each segment, and events per segment, for the
    event sizes of :func:`event_sizes` split the way ``encode_stream`` splits
    them (``ceil(events / n_segments)`` events per segment)."""
    per_seg = max(1, -(-len(sizes) // n_segments))
    bounds = [0]
    for s in range(n_segments):
        bounds.append(bounds[-1] + sum(sizes[s * per_seg : (s + 1) * per_seg]))
    return bounds, per_seg


def _rows_events_per_file(paths: list[str]) -> list[int]:
    out = []
    for p in paths:
        types = pq.read_table(p, columns=["event_type"]).column("event_type")
        out.append(sum(1 for t in types.to_pylist() if t == EventType.TABLE_MAP))
    return out


def load_fixture(work: str, spec: FixtureSpec, seed: int) -> Fixture:
    ops = generate_ops(seed=seed, n_convs=spec.n_convs)
    sizes = event_sizes(ops, seed)
    bounds, per_seg = segment_op_bounds(sizes, spec.n_segments)
    root = os.path.join(work, "fixtures", spec.tag(seed))
    seg_dir = os.path.join(root, "segments")
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        evolve_at = None
        if spec.evolve_segment:
            # the switch lands at the middle event of that segment
            idx = (spec.evolve_segment - 1) * per_seg + per_seg // 2
            evolve_at = (idx + 0.5) / len(sizes)
        stream = encode_stream(
            ops, n_segments=spec.n_segments, seed=seed, evolve_at=evolve_at
        )
        write_segments_parquet(stream, seg_dir)
        with open(done, "w") as f:
            json.dump({"n_ops": len(ops)}, f)
    paths = sorted(glob.glob(os.path.join(seg_dir, "segment-*.parquet")))
    expected = [
        len(sizes[s * per_seg : (s + 1) * per_seg]) for s in range(spec.n_segments)
    ]
    if len(paths) != spec.n_segments or _rows_events_per_file(paths) != expected:
        # the op→segment map no longer matches what genlog wrote; every
        # truth check below would be wrong, so refuse to run
        raise RuntimeError(
            f"segment layout of {seg_dir} does not match the expected "
            f"event split; delete the fixture cache and rerun"
        )
    return Fixture(spec, seed, seg_dir, paths, ops, bounds)

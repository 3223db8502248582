"""Engine configuration — the reference's config.json surface, re-mapped.

The reference validates a JSON config (/root/reference/src/config.zig:97-127,
validation :192-269): connection, binlog position range, output mode, batch
size, queue capacity, table include/exclude.  The engine's equivalents:

  host/port/auth/ssl    → accepted verbatim (round 5): carried as capture
                          connection fields for scripts/capture_daemon.py;
                          a config with `host` and no `segments_path`
                          describes a capture source
  from_binlog_file/pos  → from_position (file_seq, pos) — inclusive
  to_binlog_file/pos    → to_position (file_seq, pos) — exclusive, events at
                          log_pos >= to excluded (binlog_reader.zig:443-455)
  output_mode           → "envelope" (parquet change log) | "apply" (merge
                          into the lake table) — stdout ≈ df.show()
  batch_size            → arrow_batch_rows (maxRecordsPerBatch analogue)
  pipeline_queue_capacity → max_files_per_trigger (micro-batch backpressure)
  include/exclude_tables → TableFilter patterns (validated identically)

Validation mirrors the reference: position range ordering, positive sizes,
pattern syntax/conflicts (raised by TableFilter itself).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .functions.position import file_seq_of
from .functions.table_filter import TableFilter


class ConfigError(ValueError):
    pass


@dataclass
class ReplayConfig:
    segments_path: str | None = None
    table_path: str | None = None
    output_mode: str = "apply"  # apply | envelope | stdout
    from_position: tuple[int, int] | None = None
    to_position: tuple[int, int] | None = None
    include_tables: list[str] = field(default_factory=list)
    exclude_tables: list[str] = field(default_factory=list)
    arrow_batch_rows: int = 8192
    max_files_per_trigger: int | None = 1
    n_buckets: int = 32
    checkpoint_dir: str | None = None
    column_names: list[str] = field(
        default_factory=lambda: ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    key_positions: tuple[int, ...] = (0, 1)
    # DROP COLUMN declarations: {column_count: [surviving names in order]}
    # (JSON object keys arrive as strings; the applier coerces to int).
    # Without a declaration a narrower TABLE_MAP raises
    # SchemaNarrowingError instead of silently shifting values.
    narrowed_names: dict | None = None
    # capture-connection fields (reference config surface, accepted
    # verbatim): used by scripts/capture_daemon.py when the source is a
    # live server rather than a segment store
    host: str | None = None
    port: int = 3306
    user: str | None = None
    password: str = ""
    database: str | None = None
    ssl: bool = False
    parquet_output_dir: str | None = None
    log_level: str | None = None
    log_file: str | None = None

    def __post_init__(self):
        if self.output_mode not in ("apply", "envelope", "stdout"):
            raise ConfigError(f"invalid output_mode: {self.output_mode!r}")
        if self.segments_path is None and self.host is None:
            raise ConfigError(
                "config needs a source: segments_path (segment store) or "
                "host (live capture)"
            )
        if self.arrow_batch_rows <= 0:
            raise ConfigError("arrow_batch_rows must be positive")
        if self.n_buckets <= 0:
            raise ConfigError("n_buckets must be positive")
        if self.from_position and self.to_position:
            if tuple(self.from_position) >= tuple(self.to_position):
                # config.zig:217-253: range must be non-empty and ordered
                raise ConfigError(
                    f"from_position {self.from_position} must precede to_position {self.to_position}"
                )
        if self.output_mode == "apply" and not self.table_path:
            raise ConfigError("apply mode requires table_path")
        # validates patterns + conflicts (table_filter.zig:203-291 parity)
        self.table_filter()

    def table_filter(self) -> TableFilter | None:
        if not self.include_tables and not self.exclude_tables:
            return None
        return TableFilter(include=self.include_tables, exclude=self.exclude_tables)

    # ------------------------------------------------------------------

    @classmethod
    def from_json(cls, text_or_path: str) -> "ReplayConfig":
        """Accepts a JSON string or a path to a JSON file.  Binlog file
        names (``binlog.000007``) are accepted for positions and converted
        via their numeric suffix (config.zig:76-94 rule)."""
        try:
            raw = json.loads(text_or_path)
        except (json.JSONDecodeError, ValueError):
            with open(text_or_path) as f:
                raw = json.load(f)

        def pos(prefix: str):
            f_ = raw.pop(f"{prefix}_binlog_file", None)
            p = raw.pop(f"{prefix}_binlog_position", None)
            if f_ is None and p is None:
                return None
            seq = file_seq_of(f_) if isinstance(f_, str) else int(f_ or 0)
            return (seq, int(p or 0))

        from_pos = pos("from")
        to_pos = pos("to")
        # reference key spellings (config.zig), accepted verbatim so the
        # reference's own config.example.json / config.parquet.json /
        # config.docker-ssl.json load unmodified
        aliases = {
            "include": "include_tables",
            "exclude": "exclude_tables",
            "parquet_batch_size": "arrow_batch_rows",
            "pipeline_queue_capacity": "max_files_per_trigger",
        }
        for src, dst in aliases.items():
            if src in raw:
                raw[dst] = raw.pop(src)
        if raw.get("output_mode") == "parquet":
            # the reference's parquet mode IS the envelope change log
            raw["output_mode"] = "envelope"
        known = {k: v for k, v in raw.items() if k in cls.__dataclass_fields__}
        unknown = set(raw) - set(known)
        if unknown:
            raise ConfigError(f"unknown config keys: {sorted(unknown)}")
        cfg = cls(from_position=from_pos, to_position=to_pos, **known)
        return cfg


def run_replay(spark, config: ReplayConfig):
    """Convenience driver: config → bounded replay (entry point B analogue,
    SURVEY.md §3.2).  Returns (batch_records, table_or_envelope_df)."""
    from .plans.apply import TranscriptsApplier
    from .plans.lake import BucketedLakeTable
    from .streaming.replay import BinlogReplayStream

    tf = config.table_filter()
    if config.segments_path is None:
        raise ConfigError(
            "run_replay needs segments_path; a capture config (host set) "
            "drives scripts/capture_daemon.py instead"
        )
    if config.output_mode in ("envelope", "stdout"):
        from .functions.decode import decode_changes
        from .sources.segments import read_segments

        env = decode_changes(
            read_segments(spark, config.segments_path),
            table_filter=tf,
            stop_position=config.to_position,
            from_position=config.from_position,
        )
        if config.output_mode == "stdout":
            # reference stdout sink (S5), value-format parity with
            # output.zig printRowEvent/formatRowValue
            from .functions.render import render_envelope

            print(render_envelope(env, limit=50))
        elif config.parquet_output_dir:
            env.write.mode("overwrite").parquet(config.parquet_output_dir)
        return [], env

    table = BucketedLakeTable(
        spark,
        config.table_path,
        key_cols=[config.column_names[i] for i in config.key_positions],
        n_buckets=config.n_buckets,
    )
    applier = TranscriptsApplier(
        spark,
        table,
        column_names=config.column_names,
        key_positions=config.key_positions,
        narrowed_names=config.narrowed_names,
    )
    import tempfile

    replay = BinlogReplayStream(
        spark,
        config.segments_path,
        applier,
        checkpoint_dir=config.checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_"),
        table_filter=tf,
        from_position=config.from_position,
        stop_position=config.to_position,
        max_files_per_trigger=config.max_files_per_trigger,
    )
    records = replay.run_to_completion()
    return records, table.read()

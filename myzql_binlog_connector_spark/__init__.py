"""PySpark-native CDC / incremental-ingest engine.

Public API surface (see README.md for the architecture):

    from myzql_binlog_connector_spark import (
        decode_changes,          # raw event blobs → change envelope DF
        decode_typed,            # raw event blobs → typed change rows
        decode_typed_from_files, # zero-shuffle typed decode (fast path)
        scan_schemas,            # TABLE_MAP-only schema pre-pass
        TableFilter,             # include/exclude with specificity rules
        BucketedLakeTable,       # merge-capable lake table
        TranscriptsApplier,      # typed extraction + exactly-once apply
        BinlogReplayStream,      # resumable Structured-Streaming replay
    )
"""

from .functions.decode import (  # noqa: F401
    DML_CORRUPT,
    ENVELOPE_SCHEMA,
    decode_changes,
    decode_segment_files,
    decode_typed,
    decode_typed_from_files,
    scan_schemas,
)
from .functions.table_filter import FilterRuleError, TableFilter  # noqa: F401
from .plans.apply import MultiTableApplier, TranscriptsApplier  # noqa: F401
from .plans.lake import BucketedLakeTable  # noqa: F401
from .streaming.replay import BinlogReplayStream  # noqa: F401

__all__ = [
    "DML_CORRUPT",
    "ENVELOPE_SCHEMA",
    "decode_changes",
    "decode_segment_files",
    "decode_typed",
    "decode_typed_from_files",
    "scan_schemas",
    "TableFilter",
    "FilterRuleError",
    "TranscriptsApplier",
    "MultiTableApplier",
    "BucketedLakeTable",
    "BinlogReplayStream",
]

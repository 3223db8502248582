"""Driver-contract harness: deterministic CDC streams derived from the
read-only testdata tables, so `__spark_entry__.py` queries can exercise the
binlog decode/apply path with a DuckDB-expressible oracle.

The op stream derived from a table is a pure function of the table, so the
oracle is plain SQL over the same table:

  documents roundtrip: INSERT every row        → oracle: SELECT *
  events apply-state:  INSERT every row,
                       UPDATE value←value*2 where event_id%3=0 (later gtid),
                       DELETE where event_type='click'
                       → oracle: CASE/WHERE over events

Encoding happens driver-side with pyarrow (testdata is small at correctness
scale); the decode/dedup/apply path under test is fully distributed.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from .binlog.constants import ColumnType
from .binlog.encoder import ColumnSpec, EventWriter, TableSchema
from .functions.decode import decode_changes
from .operators.dedup import lww_dedup
from .sources.segments import EVENTS_SCHEMA, write_segments

DOCS_SCHEMA = TableSchema(
    database="corpus",
    table="documents",
    columns=(
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # doc_id
        ColumnSpec(ColumnType.VARCHAR, 16384),      # text (2B length prefix)
        ColumnSpec(ColumnType.VARCHAR, 16),         # lang
        ColumnSpec(ColumnType.VARCHAR, 64),         # source
        ColumnSpec(ColumnType.LONGLONG, 0),         # n_chars
    ),
    column_names=("doc_id", "text", "lang", "source", "n_chars"),
)

DOCS_SCHEMA_V2 = TableSchema(
    database="corpus",
    table="documents",
    columns=(
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # doc_id
        ColumnSpec(ColumnType.VARCHAR, 16384),      # text
        ColumnSpec(ColumnType.VARCHAR, 16),         # lang
        ColumnSpec(ColumnType.VARCHAR, 64),         # source
        ColumnSpec(ColumnType.LONGLONG, 0),         # n_chars
        ColumnSpec(ColumnType.LONGLONG, 0),         # quality (added mid-stream)
    ),
    column_names=("doc_id", "text", "lang", "source", "n_chars", "quality"),
)


EVENTS_TBL_SCHEMA = TableSchema(
    database="app",
    table="events",
    columns=(
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # event_id
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # user_id
        ColumnSpec(ColumnType.VARCHAR, 32),         # event_type
        ColumnSpec(ColumnType.DOUBLE, 8),           # value
        ColumnSpec(ColumnType.VARCHAR, 256),        # props
    ),
    column_names=("event_id", "user_id", "event_type", "value", "props"),
)


def _events_df_from_writer(
    spark: SparkSession, writers: list[EventWriter]
) -> DataFrame:
    rows = []
    gtid = 0
    for file_seq, w in enumerate(writers, start=1):
        for event_seq, (offset, pkt) in enumerate(w.events):
            gtid += 1
            rows.append((file_seq, offset, gtid, gtid, pkt[5], bytearray(pkt)))
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def docs_cdc_events(spark: SparkSession, sf_dir: str, n_segments: int = 2) -> DataFrame:
    """Encode every documents row as WRITE_ROWS across segments."""
    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    per = max(1, (len(tbl) + n_segments - 1) // n_segments)
    writers = []
    for s in range(n_segments):
        chunk = tbl[s * per : (s + 1) * per]
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(7, DOCS_SCHEMA)
        for i in range(0, len(chunk), 80):
            rows = [
                (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
                for r in chunk[i : i + 80]
            ]
            w.write_rows(7, DOCS_SCHEMA, rows)
        w.rotate(f"binlog.{s + 2:06d}")
        writers.append(w)
    return _events_df_from_writer(spark, writers)


def docs_cdc_evolving_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream TABLE_MAP schema evolution (pure function of documents):
    segment 1 INSERTs every row under the 5-col V1 schema; segment 2
    switches the TABLE_MAP to V2 (adds ``quality`` DOUBLE) and UPDATEs rows
    with doc_id % 4 == 0 to text='v2: '+text, quality=n_chars//2.  Final
    state: evolved rows carry the new column, never-updated rows NULL-pad
    it — the CASE/NULL oracle in __spark_entry__.oracle_sql()."""
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet",
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_pylist()

    w1 = EventWriter(server_id=1)
    w1.format_description()
    w1.table_map(7, DOCS_SCHEMA)
    for i in range(0, len(tbl), 80):
        rows = [
            (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
            for r in tbl[i : i + 80]
        ]
        w1.write_rows(7, DOCS_SCHEMA, rows)
    w1.rotate("binlog.000002")

    w2 = EventWriter(server_id=1)
    w2.format_description()
    w2.table_map(7, DOCS_SCHEMA_V2)  # same table id, widened schema
    updates = [
        (
            (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"], None),
            (r["doc_id"], "v2: " + r["text"], r["lang"], r["source"],
             r["n_chars"], r["n_chars"] // 2),
        )
        for r in tbl
        if r["doc_id"] % 4 == 0
    ]
    for i in range(0, len(updates), 80):
        w2.update_rows(7, DOCS_SCHEMA_V2, updates[i : i + 80])
    w2.rotate("binlog.000003")
    return _events_df_from_writer(spark, [w1, w2])


def events_cdc_stream(spark: SparkSession, sf_dir: str, n_segments: int = 3) -> DataFrame:
    """Mixed op stream over the events table (pure function of the table):
    INSERT all → UPDATE (value*2) where event_id%3=0 → DELETE clicks."""
    return _events_df_from_writer(spark, events_stream_writers(sf_dir, n_segments))


MT_DOCS_SCHEMA = TableSchema(
    "corpus", "docs2",
    (ColumnSpec(ColumnType.LONGLONG, 0, False), ColumnSpec(ColumnType.VARCHAR, 16384)),
    ("doc_id", "text"),
)
MT_ACT_SCHEMA = TableSchema(
    "app", "activity",
    (ColumnSpec(ColumnType.LONGLONG, 0, False), ColumnSpec(ColumnType.VARCHAR, 32)),
    ("event_id", "event_type"),
)
MT_CRM_SCHEMA = TableSchema(
    "crm", "customer",
    (ColumnSpec(ColumnType.LONGLONG, 0, False), ColumnSpec(ColumnType.VARCHAR, 64)),
    ("c_custkey", "c_name"),
)


def multitable_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved 3-table change stream (pure function of the documents /
    events / customer tables): statement groups round-robin between the
    tables — the TABLE_MAP cache switches constantly, the worst case for a
    single-table-minded reader.  Ops: INSERT everything; then per table
    one mutation wave — docs: UPDATE text='v2: '+text where doc_id%5=0;
    activity: DELETE clicks; customer: UPDATE name=name+' *' where
    custkey%3=0."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    acts = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]).to_pylist()
    crm = pq.read_table(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_name"]).to_pylist()

    w1 = EventWriter(server_id=1)
    w1.format_description()
    w1.table_map(7, MT_DOCS_SCHEMA)
    w1.table_map(8, MT_ACT_SCHEMA)
    w1.table_map(9, MT_CRM_SCHEMA)
    n = max(len(docs), len(acts), len(crm))
    for i in range(0, n, 80):  # round-robin statement groups
        if i < len(docs):
            w1.write_rows(7, MT_DOCS_SCHEMA,
                          [(r["doc_id"], r["text"]) for r in docs[i:i + 80]])
        if i < len(acts):
            w1.write_rows(8, MT_ACT_SCHEMA,
                          [(r["event_id"], r["event_type"]) for r in acts[i:i + 80]])
        if i < len(crm):
            w1.write_rows(9, MT_CRM_SCHEMA,
                          [(r["c_custkey"], r["c_name"]) for r in crm[i:i + 80]])
    w1.rotate("binlog.000002")

    w2 = EventWriter(server_id=1)
    w2.format_description()
    w2.table_map(7, MT_DOCS_SCHEMA)
    w2.table_map(8, MT_ACT_SCHEMA)
    w2.table_map(9, MT_CRM_SCHEMA)
    doc_up = [((r["doc_id"], r["text"]), (r["doc_id"], "v2: " + r["text"]))
              for r in docs if r["doc_id"] % 5 == 0]
    act_del = [(r["event_id"], r["event_type"]) for r in acts
               if r["event_type"] == "click"]
    crm_up = [((r["c_custkey"], r["c_name"]), (r["c_custkey"], r["c_name"] + " *"))
              for r in crm if r["c_custkey"] % 3 == 0]
    m = max(len(doc_up), len(act_del), len(crm_up))
    for i in range(0, m, 80):
        if i < len(doc_up):
            w2.update_rows(7, MT_DOCS_SCHEMA, doc_up[i:i + 80])
        if i < len(act_del):
            w2.delete_rows(8, MT_ACT_SCHEMA, act_del[i:i + 80])
        if i < len(crm_up):
            w2.update_rows(9, MT_CRM_SCHEMA, crm_up[i:i + 80])
    w2.rotate("binlog.000003")
    return _events_df_from_writer(spark, [w1, w2])


def write_writers_parquet(
    writers: list[EventWriter],
    out_dir: str,
    start_seq: int = 1,
    start_gtid: int = 0,
) -> list[str]:
    """Materialize EventWriter segments as a segment-store directory (one
    parquet file per writer, FIXTURES.md F2 layout, plus the store's
    ``_schemas.json`` sidecar) — the streaming-source form of
    :func:`_events_df_from_writer`.  ``start_seq``/``start_gtid`` let
    callers append later segments to an existing store with continuous
    numbering (arrival-of-new-segments scenarios); each event's gtid and
    event_seq are one running count."""
    segments = []
    gtid = start_gtid
    for file_seq, w in enumerate(writers, start=start_seq):
        rows = []
        for offset, pkt in w.events:
            gtid += 1
            rows.append((offset, gtid, gtid, pkt))
        segments.append((file_seq, rows))
    return write_segments(segments, out_dir)


def events_stream_writers(sf_dir: str, n_segments: int = 3) -> list[EventWriter]:
    """The :func:`events_cdc_stream` op stream as raw EventWriters (for
    callers that materialize segment files instead of a DataFrame)."""
    tbl = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "event_type", "value", "props"],
    ).to_pylist()
    inserts = [
        (r["event_id"], r["user_id"], r["event_type"], r["value"], r["props"])
        for r in tbl
    ]
    updates = [
        (
            (r["event_id"], r["user_id"], r["event_type"], r["value"], r["props"]),
            (r["event_id"], r["user_id"], r["event_type"], r["value"] * 2, r["props"]),
        )
        for r in tbl
        if r["event_id"] % 3 == 0
    ]
    deletes = [
        (r["event_id"], r["user_id"], r["event_type"],
         r["value"] * 2 if r["event_id"] % 3 == 0 else r["value"], r["props"])
        for r in tbl
        if r["event_type"] == "click"
    ]
    phases = [("I", inserts), ("U", updates), ("D", deletes)]
    writers: list[EventWriter] = []
    per = max(1, (len(inserts) + len(updates) + len(deletes)) // n_segments + 1)
    emitted = 0

    def new_writer():
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(8, EVENTS_TBL_SCHEMA)
        return w

    w = new_writer()
    for kind, items in phases:
        for i in range(0, len(items), 80):
            chunk = items[i : i + 80]
            if kind == "I":
                w.write_rows(8, EVENTS_TBL_SCHEMA, chunk)
            elif kind == "U":
                w.update_rows(8, EVENTS_TBL_SCHEMA, chunk)
            else:
                w.delete_rows(8, EVENTS_TBL_SCHEMA, chunk)
            emitted += len(chunk)
            if emitted >= per:
                w.rotate(f"binlog.{len(writers) + 2:06d}")
                writers.append(w)
                w = new_writer()
                emitted = 0
    w.rotate("binlog.999999")
    writers.append(w)
    return writers


EVENTS_JSON_SCHEMA = TableSchema(
    database="app",
    table="events_json",
    columns=(
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # event_id
        ColumnSpec(ColumnType.JSON, 4),             # payload
    ),
    column_names=("event_id", "payload"),
)


def events_partial_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL_UPDATE_ROWS(39) stream (pure function of the events table):
    INSERT ``{"t": event_type, "v": user_id}`` docs, then a partial-JSON
    update for every event_id % 5 == 0 row — REPLACE $.v, plus REMOVE $.t
    (% 3) and INSERT $.x (% 4) to cover all three diff operations."""
    from .binlog.encoder import PartialJson

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "event_type"]
    ).to_pylist()
    inserts = [
        (r["event_id"], {"t": r["event_type"], "v": r["user_id"]}) for r in tbl
    ]
    partials = []
    for r in tbl:
        if r["event_id"] % 5:
            continue
        diffs = [(0, "$.v", r["user_id"] * 2)]
        if r["event_id"] % 3 == 0:
            diffs.append((2, "$.t", None))
        if r["event_id"] % 4 == 0:
            diffs.append((1, "$.x", "p"))
        before = (r["event_id"], {"t": r["event_type"], "v": r["user_id"]})
        partials.append((before, (r["event_id"], PartialJson(diffs))))

    w = EventWriter(server_id=1)
    w.format_description()
    w.table_map(9, EVENTS_JSON_SCHEMA)
    for i in range(0, len(inserts), 80):
        w.write_rows(9, EVENTS_JSON_SCHEMA, inserts[i : i + 80])
    for i in range(0, len(partials), 80):
        w.partial_update_rows(9, EVENTS_JSON_SCHEMA, partials[i : i + 80])
    w.rotate("binlog.000002")
    return _events_df_from_writer(spark, [w])


def typed_final_state(
    envelope: DataFrame,
    schema: TableSchema,
    key_positions: tuple[int, ...],
    spark_types: list[str],
) -> DataFrame:
    """Decode envelope → typed payload → LWW → live rows.

    ``spark_types``: Spark SQL type strings per column (positional)."""
    struct_ddl = ", ".join(f"c{i} {t}" for i, t in enumerate(spark_types))
    df = envelope.withColumn("_after", F.from_json("after_values", struct_ddl)).withColumn(
        "_before", F.from_json("before_values", struct_ddl)
    )
    cols = []
    for i, name in enumerate(schema.column_names):
        src = (
            F.coalesce(F.col(f"_after.c{i}"), F.col(f"_before.c{i}"))
            if i in key_positions
            else F.col(f"_after.c{i}")
        )
        cols.append(src.alias(name))
    typed = df.select(
        *cols,
        (F.col("dml_type") == "DELETE").alias("_deleted"),
        "gtid",
        "event_seq",
        "event_row_index",
    )
    keys = [schema.column_names[i] for i in key_positions]
    latest = lww_dedup(typed, keys, ["gtid", "event_seq", "event_row_index"])
    return latest.filter(~F.col("_deleted")).drop(
        "_deleted", "gtid", "event_seq", "event_row_index"
    )

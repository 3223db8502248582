"""PARTIAL_UPDATE_ROWS (type 39) decode: value_options + partial bitmap +
JSON diff sequences (REPLACE/INSERT/REMOVE), mixed with full JSON values,
nulls, and multi-row events.  Layout is the public MySQL 8 format
(binlog_row_value_options=PARTIAL_JSON); the reference routes type 39 as a
plain update without decoding this layout (event_parser.zig:1156-1171)."""

from __future__ import annotations

import json

from myzql_binlog_connector_spark.binlog.constants import ColumnType
from myzql_binlog_connector_spark.binlog.decoder import EnvelopeBatch
from myzql_binlog_connector_spark.binlog.encoder import (
    ColumnSpec,
    EventWriter,
    PartialJson,
    TableSchema,
)
from tests.event_batches import env_collector, envelope_rows, typed_rows

SCHEMA = TableSchema(
    database="t",
    table="pj",
    columns=(
        ColumnSpec(ColumnType.LONGLONG, 0, False),  # id
        ColumnSpec(ColumnType.JSON, 4),             # doc
        ColumnSpec(ColumnType.VARCHAR, 32),         # note
        ColumnSpec(ColumnType.JSON, 2),             # doc2 (2-byte length)
    ),
    column_names=("id", "doc", "note", "doc2"),
)


def _decode(w: EventWriter):
    return envelope_rows((pkt, 1, 0, 0) for _, pkt in w.events)


def _writer():
    w = EventWriter()
    w.format_description()
    w.table_map(11, SCHEMA)
    return w


class TestPartialUpdate:
    def test_replace_insert_remove(self):
        w = _writer()
        before = (1, {"a": 1, "b": "x"}, "n1", {"k": True})
        after = (
            1,
            PartialJson([(0, "$.a", 2), (1, "$.c", [1, 2]), (2, "$.b", None)]),
            "n1",
            {"k": True},
        )
        w.partial_update_rows(11, SCHEMA, [(before, after)])
        (rec,) = _decode(w)
        assert rec["dml_type"] == "UPDATE"
        b = json.loads(rec["before_values"])
        a = json.loads(rec["after_values"])
        assert json.loads(b["c1"]) == {"a": 1, "b": "x"}
        diff = json.loads(a["c1"])
        assert diff == {
            "$partial": [
                {"op": "replace", "path": "$.a", "value": 2},
                {"op": "insert", "path": "$.c", "value": [1, 2]},
                {"op": "remove", "path": "$.b"},
            ]
        }
        # unflagged JSON column decodes as a full document
        assert json.loads(a["c3"]) == {"k": True}
        assert a["c0"] == 1 and a["c2"] == "n1"

    def test_mixed_partial_and_full_json_columns(self):
        w = _writer()
        before = (2, {"v": 1}, None, {"w": 2})
        after = (2, {"v": 9}, None, PartialJson([(0, "$.w", 3)]))
        w.partial_update_rows(11, SCHEMA, [(before, after)])
        (rec,) = _decode(w)
        a = json.loads(rec["after_values"])
        assert json.loads(a["c1"]) == {"v": 9}  # full value, partial bit 0
        assert json.loads(a["c3"]) == {"$partial": [{"op": "replace", "path": "$.w", "value": 3}]}

    def test_nulls_and_multirow(self):
        w = _writer()
        pairs = [
            ((3, {"x": 1}, "a", None), (3, PartialJson([(2, "$.x", None)]), "a", None)),
            ((4, None, None, {"y": 0}), (4, None, "b", PartialJson([(0, "$.y", 7)]))),
            ((5, {"z": 5}, "c", {"q": 1}), (5, {"z": 6}, "c", {"q": 1})),
        ]
        w.partial_update_rows(11, SCHEMA, pairs)
        recs = _decode(w)
        assert len(recs) == 3
        a0 = json.loads(recs[0]["after_values"])
        assert json.loads(a0["c1"]) == {"$partial": [{"op": "remove", "path": "$.x"}]}
        assert a0["c3"] is None
        a1 = json.loads(recs[1]["after_values"])
        assert a1["c1"] is None
        assert json.loads(a1["c3"]) == {"$partial": [{"op": "replace", "path": "$.y", "value": 7}]}
        a2 = json.loads(recs[2]["after_values"])
        assert json.loads(a2["c1"]) == {"z": 6}
        for i, rec in enumerate(recs, start=1):
            assert rec["event_row_index"] == i

    def test_columnar_and_typed_paths_match_generic(self):
        w = _writer()
        pairs = [
            ((6, {"m": 1}, "x", {"n": 2}), (6, PartialJson([(0, "$.m", 10)]), "x", {"n": 2})),
            ((7, {"m": 3}, None, None), (7, {"m": 4}, "y", PartialJson([(1, "$.o", "v")]))),
        ]
        w.partial_update_rows(11, SCHEMA, pairs)
        packets = [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]

        generic = envelope_rows(packets)
        out = envelope_rows(packets, vec=env_collector())
        assert len(out) == len(generic)
        for name in EnvelopeBatch.__slots__:
            for r, old in enumerate(generic):
                assert old[name] == out[r][name], (name, r)

        # typed path: after-image values with string coercion
        kinds = ("i", "s", "s", "s")
        tcols = typed_rows(packets, kinds, (0,), 4)
        assert tcols[0] == [6, 7]
        assert json.loads(tcols[1][0]) == {"$partial": [{"op": "replace", "path": "$.m", "value": 10}]}
        assert tcols[4] == [False, False]  # _deleted

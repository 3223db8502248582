"""Instrument the e2e apply phases (debug tool). Usage:
taskset -c 0-15 python scripts/phase_breakdown.py 16
"""
import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CDC_OPS", "3200000")

import bench
from pyspark.sql import functions as F
from myzql_binlog_connector_spark.functions.decode import (
    decode_typed_from_files,
    scan_schemas,
    _payload_kinds,
)
from myzql_binlog_connector_spark.plans.apply import (
    TranscriptsApplier,
    payload_struct_from_descs,
)
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
seg, n = bench.ensure_cdc_fixture("sf0.1")
paths = sorted(glob.glob(seg + "/*.parquet"))
spark = bench.build_spark(cpus)
spark.sparkContext.setLogLevel("ERROR")
NAMES = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
decode_typed_from_files(spark, paths, NAMES, ["s", "i", "s", "s", "s", "s"]).count()  # warm

tdir = tempfile.mkdtemp()
table = BucketedLakeTable(spark, tdir, ["conv_id", "turn_idx"], n_buckets=32)
ap = TranscriptsApplier(spark, table)

t0 = time.monotonic()
raw = spark.read.parquet(*paths)
descs = [r["payload_schema"] for r in scan_schemas(raw).collect()]
print("PHASE scan_schemas:", round(time.monotonic() - t0, 2), flush=True)

struct = payload_struct_from_descs(descs)
names = [ap._name_for(i) for i in range(len(struct.fields))]
kinds = _payload_kinds(descs)
t0 = time.monotonic()
typed = decode_typed_from_files(spark, paths, names, kinds, key_positions=ap.key_positions)
for name, f_ in zip(names, struct.fields):
    typed = typed.withColumn(name, F.col(name).cast(f_.dataType))
typed = typed.persist()
nf = typed.count()
print("PHASE decode_cast_persist:", nf, round(time.monotonic() - t0, 2), flush=True)

# merge gates, computes the bucket stats and watermarks, reduces and writes
rec = table.merge(typed, batch_id=0)
print("PHASE merge_wall:", rec["wall_ms"] / 1000, flush=True)
typed.unpersist()

t0 = time.monotonic()
print("PHASE readback:", table.read().count(), round(time.monotonic() - t0, 2), flush=True)
shutil.rmtree(tdir)
spark.stop()

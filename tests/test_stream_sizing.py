"""State-partition sizing and conf hygiene of ``streams.run_available_now``,
and the read-back contract of the heavy (file-sink) streaming harness.

Every availableNow start goes through one helper. On a fresh checkpoint it
sizes the stream's shuffle, and so its state-store count, by AQE's
coalescing rule over the bytes the file sources replay, then restores the
confs it pinned exactly: a conf that was unset stays unset."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir
from highspeedrailwaybigdatasystem_spark.streaming import streams as S
from tests.conftest import SF_SMOKE

ADV = 64 * 1024 * 1024


@pytest.mark.parametrize(
    "staged,cap,expected",
    [
        (0, 8, 1),
        (ADV - 1, 8, 1),
        (ADV, 8, 1),
        (ADV + 1, 8, 2),
        (8 * ADV + 1, 8, 8),
    ],
)
def test_state_partitions_rule(staged, cap, expected):
    assert S.state_partitions(staged, ADV, cap) == expected


class _StoreCounter(StreamingQueryListener):
    def __init__(self):
        self.ops: set[tuple[int, int]] = set()
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.ops.update(
            (op.numShufflePartitions, op.numStateStoreInstances)
            for op in event.progress.stateOperators
        )

    def onQueryTerminated(self, event):
        self.terminated += 1


def _conf_state(spark, key):
    conf = spark._jsparkSession.sessionState().conf()
    return conf.getConfString(key) if conf.contains(key) else None


@pytest.mark.parametrize(
    "op,stores", [("stream_tumbling", 1), ("stream_left_outer_join", 4)]
)
def test_stateful_op_runs_one_state_partition_and_restores_confs(spark, op, stores):
    """At sf0.001 the replayed bytes are far below the advisory partition
    size, so each stateful operator runs on 1 state partition, not one per
    session shuffle partition: 1 state store for the aggregation, 4 for
    the stream-stream join (a symmetric hash join keeps two stores per
    side in every partition)."""
    spark.conf.unset(S._PROVIDER)
    shuffle_before = _conf_state(spark, S._SHUFFLE_PARTITIONS)
    listener = _StoreCounter()
    spark.streams.addListener(listener)
    try:
        all_queries()[op](spark, SF_SMOKE).collect()
        deadline = time.monotonic() + 30
        while listener.terminated < 1 and time.monotonic() < deadline:
            time.sleep(0.1)  # listener events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    assert listener.terminated == 1
    assert listener.ops == {(1, stores)}
    assert _conf_state(spark, S._SHUFFLE_PARTITIONS) == shuffle_before
    assert _conf_state(spark, S._PROVIDER) is None


def test_heavy_sink_with_no_rows_reads_back_empty_with_stream_schema(spark):
    stream = S._stream_events(spark, SF_SMOKE, tag="empty_sink").where(F.lit(False))
    out = S._run_heavy_state(spark, stream, "empty_sink")
    assert out.count() == 0
    assert out.schema == stream.schema


def test_heavy_sink_with_a_corrupt_file_raises(spark):
    out = scratch_dir("corrupt_sink")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        S._read_sink(spark, out, None).collect()

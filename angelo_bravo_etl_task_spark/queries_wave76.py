r"""Round-5 wave 76: custom streaming Python data source, foreachBatch
keyed upsert with a mergeable state law.

- src9: the STREAMING half of the Spark 4 Python DataSource API that
  src7's batch connector began: a ``SimpleDataSourceStreamReader``
  whose offset is a row position, advancing ``step`` rows per
  micro-batch, with ``readBetweenOffsets`` replaying any offset range
  exactly (the checkpoint-recovery contract). The run REALLY spans
  multiple micro-batches (asserted), and because row content is pure
  id arithmetic the DuckDB oracle rebuilds the union of all batches
  from generate_series — chunking provably did not change the data.
- e13: the streaming-upsert shape every CDC apply-loop uses —
  foreachBatch merging each micro-batch into keyed state — made
  batch-split-independent by algebra: the per-key state
  (count, argmax-by-reading-id) is a commutative semigroup, so ANY
  chunking of the stream folds to the same final table, which is
  exactly what the batch oracle computes in one pass. The micro-batch
  side pre-aggregates DISTRIBUTED (one partial per key per batch);
  only the key-cardinality-bounded partial crosses to the merge (at
  100 TB: MERGE INTO a keyed table — the partial-aggregate-then-merge
  shape is identical).

Reference parity note: the reference script (Angelo_ETL_Task.py) has
no streaming surface; these complete the e-family (e1-e12, px3) and
the connector family (src7) along Spark 4's Python-source axis.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _register
from .operators.localframe import local_rows_df

_SRC9_N_ROWS = 840  # 7 sensors x 120 readings; step 120 -> 7 micro-batches
_SRC9_STEP = 120

_RUN_SEQ = [0]


def _rows_seen(rows_by_batch: dict[int, int], progress) -> int:
    """Record each progress event's ``numInputRows`` under its batchId in
    ``rows_by_batch`` (kept across polls) and return the running total.

    ``recentProgress`` is a ring buffer of the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    batches, so summing it alone undercounts once a stream has run past
    that many batches; keying by batchId also counts a batch seen on two
    polls once."""
    for p in progress or []:
        if p:
            rows_by_batch[int(p["batchId"])] = int(p["numInputRows"])
    return sum(rows_by_batch.values())


def _register_stream_source(spark: SparkSession) -> None:
    from .sources.pydatasource import RangeSensorStreamDataSource

    try:
        spark.dataSource.register(RangeSensorStreamDataSource)
    except Exception:
        pass  # already registered in this session


def _run_stream_to_memory(
    spark: SparkSession, sink: str, timeout: float = 120.0
) -> None:
    """Start the range_sensor_stream into a memory sink with a 0-interval
    processing-time trigger and poll until every row has arrived (the
    offset keeps advancing by `step` per micro-batch), then stop. Unlike
    availableNow — which takes ONE micro-batch of a simple stream reader
    — this drives the genuinely multi-batch path."""
    from .streaming.windows import ephemeral_checkpoint_dir

    df = (
        spark.readStream.format("range_sensor_stream")
        .option("n_rows", str(_SRC9_N_ROWS))
        .option("step", str(_SRC9_STEP))
        .load()
    )
    with ephemeral_checkpoint_dir() as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            rows_by_batch: dict[int, int] = {}
            deadline = time.time() + timeout
            while time.time() < deadline:
                # Optimization r12 (guide §5 "the driver should do almost
                # no data work"): poll STATUS, not the sink — the previous
                # spark.table(sink).count() launched a full Spark job per
                # 0.3 s poll that competed with the stream's own batches.
                # recentProgress is a driver-local status read (no job);
                # a batch's rows are in the memory sink before its
                # progress event is published, so the break condition is
                # unchanged. The final count() assertion below still
                # verifies the sink itself.
                if _rows_seen(rows_by_batch, q.recentProgress) >= _SRC9_N_ROWS:
                    break
                time.sleep(0.05)
        finally:
            q.stop()
        # Derive the batch count AFTER stop() from recentProgress (max
        # batchId): lastProgress can be None or lag the final committed
        # batch right after the row-count poll breaks, which made the
        # multi-batch assertion flaky even on genuinely ~7-batch runs.
        batches = max(
            (p["batchId"] for p in (q.recentProgress or []) if p),
            default=0,
        )
    assert spark.table(sink).count() == _SRC9_N_ROWS, "stream did not drain"
    assert batches >= _SRC9_N_ROWS // _SRC9_STEP - 1, (
        "expected a multi-batch run",
        batches,
    )


_SRC9_SQL = f"""
WITH r AS (
  SELECT unnest(range(0, {_SRC9_N_ROWS})) AS id
), x AS (
  SELECT id, id % 7 AS sensor_id, (id * id) % 1000 AS value FROM r
)
SELECT CAST(sensor_id AS BIGINT) AS sensor_id,
       CAST(COUNT(*) AS BIGINT) AS n_readings,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       CAST(MAX(id) AS BIGINT) AS last_reading_id
FROM x GROUP BY sensor_id
"""


@_register("src9_python_stream_source", _SRC9_SQL)
def src9_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via Spark 4's Python DataSource API
    (sources/pydatasource.py::RangeSensorStreamReader): offsets are row
    positions, each micro-batch advances `step`, and readBetweenOffsets
    replays any range — the replayability that makes the source
    checkpoint-recoverable. The query drives a real multi-batch run
    (~7 micro-batches, asserted) into a memory sink, then aggregates
    per sensor; the oracle reconstructs the identical dataset from
    generate_series, so the hash certifies that chunking the stream
    into batches neither dropped, duplicated, nor altered a single row
    — the exactly-once ledger for the whole source. At scale the same
    reader pattern wraps a queue/REST feed; per-batch work is
    distributed by Spark exactly as for a native source."""
    _register_stream_source(spark)
    _RUN_SEQ[0] += 1
    sink = f"src9_sink_{_RUN_SEQ[0]}"
    _run_stream_to_memory(spark, sink)
    return (
        spark.table(sink)
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_readings"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.max("reading_id").cast("bigint").alias("last_reading_id"),
        )
    )


_E13_SQL = f"""
WITH r AS (
  SELECT unnest(range(0, {_SRC9_N_ROWS})) AS id
), x AS (
  SELECT id, id % 7 AS sensor_id, (id * id) % 1000 AS value FROM r
)
SELECT CAST(sensor_id AS BIGINT) AS sensor_id,
       CAST(COUNT(*) AS BIGINT) AS n_readings,
       CAST(MAX(id) AS BIGINT) AS last_reading_id,
       CAST((MAX(id) * MAX(id)) % 1000 AS BIGINT) AS last_value
FROM x GROUP BY sensor_id
"""


@_register("e13_foreachbatch_upsert", _E13_SQL)
def e13_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert via foreachBatch — the CDC apply-loop
    shape: every micro-batch is pre-aggregated DISTRIBUTED to one
    partial row per key (count + argmax-by-reading-id via max(struct)),
    and only that key-bounded partial merges into standing state. The
    state algebra is a commutative semigroup — counts add, argmax takes
    the struct max — so the final table is IDENTICAL under any batch
    chunking, which is precisely what the batch oracle computes in one
    pass; the stream really runs multi-batch (same source as src9), so
    the hash certifies the upsert loop against ground truth. last_value
    arrives through the argmax struct (not recomputed), proving the
    merge carries full rows. At 100 TB the merge step is MERGE INTO a
    keyed Delta/Iceberg table; the distributed partial-aggregate +
    bounded merge shape is unchanged."""
    from .streaming.windows import ephemeral_checkpoint_dir

    _register_stream_source(spark)
    df = (
        spark.readStream.format("range_sensor_stream")
        .option("n_rows", str(_SRC9_N_ROWS))
        .option("step", str(_SRC9_STEP))
        .load()
    )
    state: dict[int, tuple[int, int, int]] = {}  # sensor -> (n, last_id, val)
    seen = [0]
    merged_batches: set[int] = set()

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch may redeliver a micro-batch after a transient
        # failure; the merge below is NOT idempotent (counts add), so a
        # replayed batch_id must be skipped or the fold double-counts —
        # the same dedup-by-batch-id every real CDC apply-loop carries.
        # The batch is marked merged only AFTER the fold completes, so no
        # COMPLETED batch is ever double-applied; an INCOMPLETE batch is
        # retried in full (at-least-once with completed-batch dedup, not
        # true exactly-once — a retry of an attempt that died after
        # partially mutating external state would re-apply its rows).
        # Here that window is closed structurally: all mutations happen
        # AFTER collect() returns, on local dicts, so a failed attempt
        # mutates nothing. A real sink gets exactly-once only by staging
        # into a transaction committed atomically with the batch marker —
        # e18_txn_foreachbatch (wave 108) builds exactly that and proves
        # it against a real mid-apply crash.
        if batch_id in merged_batches:
            return
        partial = (
            batch_df.groupBy("sensor_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.struct("reading_id", "value")).alias("last"),
            )
            .collect()
        )
        for r in partial:
            n0, id0, v0 = state.get(r.sensor_id, (0, -1, -1))
            last_id, last_v = r.last.reading_id, r.last.value
            if id0 > last_id:
                last_id, last_v = id0, v0
            state[r.sensor_id] = (n0 + r.n, last_id, last_v)
            seen[0] += r.n
        merged_batches.add(batch_id)

    with ephemeral_checkpoint_dir() as ckpt:
        q = (
            df.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            # 0.05 s poll (r12): seen[0] is a local-dict read, so a tight
            # poll costs nothing and shaves the post-final-batch tail that
            # a 0.3 s sleep added to every run.
            while time.time() < deadline and seen[0] < _SRC9_N_ROWS:
                time.sleep(0.05)
        finally:
            q.stop()
    assert seen[0] == _SRC9_N_ROWS, ("upsert stream did not drain", seen[0])
    rows = [
        (int(s), int(n), int(last_id), int(val))
        for s, (n, last_id, val) in state.items()
    ]
    return local_rows_df(spark, 
        rows,
        "sensor_id bigint, n_readings bigint, "
        "last_reading_id bigint, last_value bigint",
    )

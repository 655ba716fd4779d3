"""Independent Python-reference properties for wave 76.

src9/e13: replay the id arithmetic in pure Python and certify both
final tables; certify the state semigroup law DIRECTLY (folding the
stream under many different chunkings yields the identical state —
the property that makes e13's foreachBatch loop correct under any
trigger timing); and drive the SimpleDataSourceStreamReader class
itself to certify offset progression and readBetweenOffsets replay.
"""

from __future__ import annotations

from angelo_bravo_etl_task_spark.queries import QUERIES
from angelo_bravo_etl_task_spark.queries_wave76 import (
    _SRC9_N_ROWS,
    _SRC9_STEP,
    _rows_seen,
)

_ROWS = [(i, i % 7, (i * i) % 1000) for i in range(_SRC9_N_ROWS)]


def _truth():
    want = {}
    for i, s, v in _ROWS:
        n, last_id, last_v, sm = want.get(s, (0, -1, -1, 0))
        if i > last_id:
            last_id, last_v = i, v
        want[s] = (n + 1, last_id, last_v, sm + v)
    return want


def test_src9_stream_union_matches_arithmetic(spark, sf_dir):
    want = _truth()
    rows = QUERIES["src9_python_stream_source"][0](spark, sf_dir).collect()
    assert {r.sensor_id for r in rows} == set(want)
    for r in rows:
        n, last_id, _, sm = want[r.sensor_id]
        assert (r.n_readings, r.sum_value, r.last_reading_id) == (n, sm, last_id)


def test_e13_upsert_and_chunk_independence(spark, sf_dir):
    want = _truth()
    rows = QUERIES["e13_foreachbatch_upsert"][0](spark, sf_dir).collect()
    assert {r.sensor_id for r in rows} == set(want)
    for r in rows:
        n, last_id, last_v, _ = want[r.sensor_id]
        assert (r.n_readings, r.last_reading_id, r.last_value) == (
            n,
            last_id,
            last_v,
        )
    # the semigroup law e13 rests on: ANY chunking folds to the same state
    def fold(chunks):
        state = {}
        for chunk in chunks:
            # per-chunk partial (what the distributed pre-aggregate emits)
            partial = {}
            for i, s, v in chunk:
                n, li, lv = partial.get(s, (0, -1, -1))
                if i > li:
                    li, lv = i, v
                partial[s] = (n + 1, li, lv)
            for s, (n, li, lv) in partial.items():
                n0, li0, lv0 = state.get(s, (0, -1, -1))
                if li0 > li:
                    li, lv = li0, lv0
                state[s] = (n0 + n, li, lv)
        return state

    baseline = fold([_ROWS])
    for size in (1, 7, 100, _SRC9_STEP, 311, _SRC9_N_ROWS):
        chunks = [_ROWS[i : i + size] for i in range(0, _SRC9_N_ROWS, size)]
        assert fold(chunks) == baseline, size
    # reversed and interleaved chunk orders also converge (commutativity)
    chunks = [_ROWS[i : i + 100] for i in range(0, _SRC9_N_ROWS, 100)]
    assert fold(reversed(chunks)) == baseline
    assert fold(chunks[1::2] + chunks[0::2]) == baseline


def test_stream_reader_offsets_and_replay():
    from angelo_bravo_etl_task_spark.sources.pydatasource import (
        RangeSensorStreamReader,
    )

    r = RangeSensorStreamReader(
        {"n_rows": str(_SRC9_N_ROWS), "step": str(_SRC9_STEP)}
    )
    off = r.initialOffset()
    assert off == {"pos": 0}
    collected, offsets = [], [off]
    while off["pos"] < _SRC9_N_ROWS:
        it, off2 = r.read(off)
        batch = list(it)
        assert len(batch) <= _SRC9_STEP
        collected.extend(batch)
        offsets.append(off2)
        assert off2["pos"] > off["pos"], "offset must advance"
        off = off2
    assert collected == _ROWS
    # the recovery contract: readBetweenOffsets replays EXACTLY the
    # rows the live read produced for every committed offset range
    for a, b in zip(offsets, offsets[1:]):
        assert list(r.readBetweenOffsets(a, b)) == _ROWS[a["pos"] : b["pos"]]
    # an empty read past the end stays empty and parked
    it, off3 = r.read(off)
    assert list(it) == [] and off3 == off


def test_drain_count_survives_progress_ring_buffer():
    """recentProgress keeps only the last 100 batches: a first poll sees
    batches 0-99, a later one 50-149. Summing one poll undercounts the
    150 batches; the helper's batchId ledger reaches the total."""
    def poll(batch_ids):
        return [{"batchId": b, "numInputRows": 2} for b in batch_ids]

    first, second = poll(range(0, 100)), poll(range(50, 150))
    total = 2 * 150
    assert sum(p["numInputRows"] for p in second) < total
    rows_by_batch: dict[int, int] = {}
    assert _rows_seen(rows_by_batch, first) == 200
    assert _rows_seen(rows_by_batch, [None, *second]) == total

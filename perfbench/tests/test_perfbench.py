"""Tests of the benchmark's own parts that need no Spark: the seeded
generators, the NumPy oracle, the tail statistic, and the printed
metric names and units against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


@pytest.mark.parametrize("seed", [1, 2, 7])
def test_generators_repeat_for_a_seed(seed):
    assert np.array_equal(gen.corpus(seed, 300), gen.corpus(seed, 300))
    for batch in (0, 5):
        a_ids, a = gen.queries(seed, batch, 16)
        b_ids, b = gen.queries(seed, batch, 16)
        assert np.array_equal(a_ids, b_ids) and np.array_equal(a, b)
    s1, s2 = (gen.ChangeStream(seed, 300, 5, 4, 3, 2) for _ in range(2))
    for _ in range(3):
        c1, c2 = s1.next_batch(), s2.next_batch()
        assert np.array_equal(c1["vec_id"], c2["vec_id"])
        assert list(c1["op"]) == list(c2["op"])
        assert all((x is None and y is None) or np.array_equal(x, y)
                   for x, y in zip(c1["embedding"], c2["embedding"]))


def test_generators_differ_across_seeds_and_batches():
    assert not np.array_equal(gen.corpus(1, 100), gen.corpus(2, 100))
    _, q0 = gen.queries(1, 0, 16)
    q1_ids, q1 = gen.queries(1, 1, 16)
    assert not np.array_equal(q0, q1)
    assert q1_ids.tolist() == list(range(16, 32))


def test_corpus_rows_stay_distinct_after_fp16_rounding():
    x = gen.corpus(3, 2000)
    assert x.shape == (2000, gen.DIM) and x.dtype == np.float32
    assert len(np.unique(gen.fp16_rows(x), axis=0)) == 2000


def test_change_stream_ties_and_epochs():
    s = gen.ChangeStream(4, 50, n_new=3, n_reembed=2, n_delete=2, n_tie=1)
    b = s.next_batch()
    ops = {}
    for vid, op in zip(b["vec_id"].tolist(), b["op"]):
        ops.setdefault(vid, []).append(op)
    assert sum(1 for v in ops.values() if sorted(v) == ["delete", "upsert"]) == 1
    assert set(b["seq"].tolist()) == {1}
    assert len(s.live) == 50 + 3 - 2 - 1
    s = gen.ChangeStream(4, 50, n_new=3, n_reembed=4, n_delete=2, n_tie=1)
    b = s.next_batch()
    again = [v for v, q in zip(b["vec_id"].tolist(), b["seq"].tolist()) if q == 2]
    assert len(again) == 1 and b["vec_id"].tolist().count(again[0]) == 2
    s.reset()
    assert s.live == set(range(50))
    assert s.next_batch()["seq"].min() == 3 and s.next_id == 56


def test_l2_oracle_on_a_hand_checked_case():
    c = np.array([[0, 0], [1, 0], [0, 2], [3, 3]], dtype=np.float32)
    ids = np.array([10, 11, 12, 13])
    q = np.array([[0.75, 0.0]], dtype=np.float32)
    scores = oracle.l2_scores(q, c)
    assert scores.tolist() == [[0.5625, 0.0625, 4.5625, 14.0625]]
    top_ids, top_scores = oracle.topk(scores, ids, 2, ascending=True)
    assert top_ids.tolist() == [[11, 10]]
    good = {5: [(1, 11, 0.0625), (2, 10, 0.5625)]}
    assert oracle.check_batch(good, np.array([5]), scores, ids, 2, True) == (True, 2)
    wrong = {5: [(1, 11, 0.0625), (2, 12, 4.5625)]}
    assert oracle.check_batch(wrong, np.array([5]), scores, ids, 2, True) == (False, 1)
    misreported = {5: [(1, 11, 0.0625), (2, 10, 0.56)]}
    assert oracle.check_batch(misreported, np.array([5]), scores, ids, 2, True)[0] is False
    assert oracle.check_batch({}, np.array([5]), scores, ids, 2, True) == (False, 0)


def test_cosine_oracle_and_tie_order():
    c = np.array([[1, 0], [2, 0], [0, 1]], dtype=np.float32)
    ids = np.array([3, 1, 2])
    scores = oracle.cosine_scores(np.array([[1, 0]], dtype=np.float32), c)
    assert np.allclose(scores, [[1.0, 1.0, 0.0]])
    top_ids, _ = oracle.topk(scores, ids, 2, ascending=False)
    assert top_ids.tolist() == [[1, 3]]  # equal scores: smaller id first


def test_apply_changes_last_wins_and_delete_beats_upsert():
    live = {1: np.zeros(2, np.float32), 2: np.ones(2, np.float32)}
    v = np.full(2, 5, np.float32)
    oracle.apply_changes(live, {
        "vec_id": np.array([2, 3, 1, 1]),
        "embedding": [v, v, v, None],
        "op": np.array(["upsert", "upsert", "upsert", "delete"]),
        "seq": np.array([1, 1, 1, 1]),
    })
    assert sorted(live) == [2, 3] and np.array_equal(live[2], v)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    import run

    value, pct, n = run.tail([1.0, 2.0, 3.0], per_batch=16)
    assert n == 48 and value == 3.0 and pct == pytest.approx(100 * 38 / 48)
    value, _, n = run.tail([float(i) for i in range(1, 101)], per_batch=1)
    assert n == 100 and value == 90.0


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    with pytest.raises(RuntimeError):
        metrics.with_units({"setup_s": 1.0}, metrics.END_TO_END)


def test_footer_byte_model(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import sparkenv

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": np.arange(1000, dtype=np.int64),
                             "b": [np.ones(8, np.float32)] * 1000}), path, row_group_size=400)
    footers = sparkenv.Footers()
    cols = footers.column_bytes(path)
    assert set(cols) == {"a", "b"} and footers.rows([path]) == 1000
    one_read = footers.scan_bytes([path], ["a"])
    assert one_read == cols["a"] + footers.meta(path).serialized_size + 8
    scan = {"files": [path], "columns": ["a"], "rows_out": 2000}
    assert sparkenv.scan_bytes(footers, scan) == 2 * one_read
    assert sparkenv.data_files(str(tmp_path)) == [path]


def test_busy_union_merges_overlapping_jobs():
    import sparkenv

    assert sparkenv.busy_union_ms([(20, 25), (0, 10), (5, 15)]) == 20
    assert sparkenv.busy_union_ms([]) == 0

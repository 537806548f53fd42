"""Driver-side support search bookkeeping (operators/support.py)."""

from certa_spark.operators.support import (
    MAX_BATCHES, balance, pair_id, stop_rule, support_edges,
)


def _ranked(quals):
    """Hand-built ranked rows: candidate k is ("k", "r", label)."""
    return [(bool(q), (str(k), "r", 1)) for k, q in enumerate(quals)]


def test_stop_rule_stops_at_first_batch_reaching_num_candidates():
    # num_candidates=2 -> batches of 8; batch 0 holds 1 qualifying row,
    # batch 1 brings the running count to 3 >= 2, batch 2 is never read
    quals = [0] * 8 + [0] * 8 + [1] * 8
    quals[3] = quals[9] = quals[12] = 1
    got = stop_rule(_ranked(quals), num_candidates=2)
    assert [c[0] for c in got] == ["3", "9", "12"]


def test_stop_rule_short_side_qualifies_nothing():
    # fewer ranked rows than one batch: the reference splits into
    # len // batch == 0 batches and reads none
    assert stop_rule(_ranked([1] * 7), num_candidates=2) == []


def test_stop_rule_never_reads_a_partial_last_batch():
    # 8 + 5 rows: one full batch (no qualifying row) and a partial one
    quals = [0] * 8 + [1] * 5
    assert stop_rule(_ranked(quals), num_candidates=2) == []


def test_stop_rule_reads_at_most_max_batches():
    batch = 8
    quals = [0] * (batch * MAX_BATCHES) + [1] * batch
    assert stop_rule(_ranked(quals), num_candidates=2) == []
    quals[-batch - 1] = 1  # last row of the last readable batch
    got = stop_rule(_ranked(quals), num_candidates=2)
    assert [c[0] for c in got] == [str(batch * MAX_BATCHES - 1)]


def test_balance_samples_larger_side_down():
    small = [("1", "9", 1)]
    large = [(str(k), "9", 1) for k in range(5)]
    got = balance([small, large], seed=42)
    assert len(got) == 2 and got[0] == small[0]
    assert got[1] in large
    # a side that found nothing leaves the other whole
    assert sorted(balance([[], large], seed=42)) == large


def test_support_edges_head_first_and_head_tail_cap():
    support = [(str(k), "9", k % 2) for k in range(9)]
    edges = support_edges({"id": 5}, {"id": 6}, 1, support, 4, seed=42)
    assert edges[0] == ("0@5#1@6", 1)
    assert len(edges) == 1 + 4
    assert {cid for cid, _ in edges[1:]} <= {pair_id(l, r) for l, r, _ in support}
    # within budget every pair is kept
    assert len(support_edges({"id": 5}, {"id": 6}, 0, support, 9, 42)) == 10

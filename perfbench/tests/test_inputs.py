"""Seeded input plans: the same seed gives the same inputs, another seed
gives other inputs, and each plan keeps the workload's invariants."""

import datetime as dt
from collections import Counter

from perfbench.workloads import (
    date_chunks,
    doc_batches,
    overlapping_key_chunks,
    query_order,
)

NAMES = [f"q{i}" for i in range(13)]
LO, HI = dt.date(1995, 1, 2), dt.date(2001, 11, 5)
DOC_IDS = list(range(5000))

PLANS = {
    "query_order": lambda seed: query_order(NAMES, seed, 0),
    "date_chunks": lambda seed: date_chunks(seed, LO, HI, 8),
    "overlapping_key_chunks": lambda seed: overlapping_key_chunks(seed, 4),
    "doc_batches": lambda seed: doc_batches(DOC_IDS, seed, 1),
}


def test_same_seed_same_inputs_other_seed_other_inputs():
    for name, plan in PLANS.items():
        assert plan(1) == plan(1), name
        assert any(plan(1) != plan(s) for s in (2, 3, 4)), name


def test_query_order_is_a_permutation_that_varies_by_round():
    assert sorted(query_order(NAMES, 5, 0)) == sorted(NAMES)
    assert query_order(NAMES, 5, 0) != query_order(NAMES, 5, 1)


def test_date_chunks_tile_the_range_out_of_order():
    chunks = date_chunks(7, LO, HI, 8)
    tiled = sorted(chunks)
    assert tiled[0][0] == LO and tiled[-1][1] == HI
    assert all(a[1] == b[0] for a, b in zip(tiled, tiled[1:]))
    assert all(a < b for a, b in chunks)
    assert chunks != tiled


def test_every_key_lands_in_exactly_two_order_chunks():
    n = 4
    salt, pairs = overlapping_key_chunks(11, n)
    for key in range(1, 200):
        hits = sum((key + salt) % n in pair for pair in pairs)
        assert hits == 2


def test_doc_batches_partition_the_corpus():
    batches = doc_batches(DOC_IDS, 3, 2)
    assert len(batches) == 3
    assert len(batches[0]) == len(DOC_IDS) // 2
    flat = [i for b in batches for i in b]
    assert sorted(flat) == DOC_IDS
    assert max(Counter(flat).values()) == 1

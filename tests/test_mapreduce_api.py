"""MapReduce parity facade: MR_Run contract (mapreduce.h:44-83) — DJB2
sharding, sort-within-partition (strcmp order), grouped-iterator reducer,
COUNT(*) semantics — verified against a Python Counter oracle and with
Hypothesis-generated token streams."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multithreaded_map_reduce_library_spark.functions.hashing import djb2
from multithreaded_map_reduce_library_spark.mapreduce.api import (
    mr_run,
    mr_run_pairs,
    wordcount_mapper,
    wordcount_reducer,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from tests.conftest import SF_SMALL
from tests.oracle_util import compare_query

TEXT = "the quick brown fox jumps over the lazy dog the fox"


def test_mr_run_wordcount(spark, tmp_path):
    f1 = tmp_path / "a.txt"
    f2 = tmp_path / "b.txt"
    f1.write_text(TEXT)
    f2.write_text("fox dog Zebra")
    out = mr_run(spark, [str(f1), str(f2)], wordcount_mapper, wordcount_reducer, num_partitions=4)
    got = dict(out.collect())
    want = Counter((TEXT + " fox dog Zebra").split())
    assert got == {k: str(v) for k, v in want.items()}


def test_partition_assignment_is_djb2(spark, tmp_path):
    f = tmp_path / "a.txt"
    f.write_text(TEXT)
    out = mr_run(spark, [str(f)], wordcount_mapper, wordcount_reducer, num_partitions=4)
    per_part = out.glom().collect()
    assert len(per_part) == 4
    for pid, part in enumerate(per_part):
        keys = [k for k, _ in part]
        assert all(djb2(k, 4) == pid for k in keys), f"shard {pid} has foreign keys"
        assert keys == sorted(keys), "quirk Q3: strcmp order within shard"


def test_djb2_reference_vectors():
    # h = 5381; h = h*33 + c (mapreduce.c:154-160), verified by hand.
    h = 5381
    for ch in b"ab":
        h = (h * 33 + ch) % 2**32
    assert djb2("ab") == h
    assert djb2("") == 5381


def test_reducer_iterator_is_lazy_and_grouped(spark):
    pairs = spark.sparkContext.parallelize(
        [("k1", "x"), ("k2", "y"), ("k1", "z")] * 10, 3
    )
    seen = []

    def reducer(key, values):
        n = sum(1 for _ in values)
        seen.append(key)
        return str(n)

    got = dict(mr_run_pairs(pairs, reducer, num_partitions=2).collect())
    assert got == {"k1": "20", "k2": "10"}


@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_counter_equivalence(spark, tokens):
    pairs = spark.sparkContext.parallelize([(t, "1") for t in tokens], 4)
    got = dict(mr_run_pairs(pairs, wordcount_reducer, num_partitions=3).collect())
    want = {k: str(v) for k, v in Counter(tokens).items()}
    assert got == want


def test_combiner_equals_plain_and_shrinks_shuffle(spark):
    """The combiner path must produce identical results to the plain path,
    while shuffling at most one pair per (map partition, key)."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import (
        _combine_partition,
        _group_partition,
        mr_run_pairs,
        wordcount_reducer,
        wordcount_sum_reducer,
    )

    sc = spark.sparkContext
    toks = ["a", "b", "a", "c", "a", "b"] * 50
    pairs = sc.parallelize([(t, "1") for t in toks], 4)

    plain = dict(mr_run_pairs(pairs, wordcount_reducer, num_partitions=3).collect())
    combined = dict(
        mr_run_pairs(
            pairs,
            wordcount_sum_reducer,
            num_partitions=3,
            combiner=wordcount_sum_reducer,
        ).collect()
    )
    assert combined == plain == {"a": "150", "b": "100", "c": "50"}

    # Shuffle-volume bound: after map-side combine, and after map-side
    # grouping alone, each of the 4 map partitions contributes at most
    # |distinct keys| records.
    for map_side in (_group_partition, _combine_partition(wordcount_sum_reducer)):
        pre_shuffle = pairs.mapPartitions(map_side).count()
        assert pre_shuffle <= 4 * 3
        assert pre_shuffle < len(toks)


def _emission_order_groups(pairs):
    want: dict[str, list[str]] = {}
    for k, v in pairs:
        want.setdefault(k, []).append(v)
    return want


def test_grouped_shuffle_keeps_emission_order(spark):
    """Map-side grouping must not reorder a key's values: on one map
    partition the reducer sees them exactly in emission order."""
    keys = ["b", "a", "c", "a", "b", "a"]
    pairs = [(k, str(i)) for i, k in enumerate(keys * 40)]
    rdd = spark.sparkContext.parallelize(pairs, 1)
    got = dict(
        mr_run_pairs(rdd, lambda _k, vs: ",".join(vs), num_partitions=3).collect()
    )
    want = {k: ",".join(vs) for k, vs in _emission_order_groups(pairs).items()}
    assert got == want


def test_grouped_shuffle_exact_across_flush(spark):
    """A key with more values than one map-side flush holds is split into
    several shuffled records; the reducer still sees every value once, in
    emission order."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import _FLUSH_VALUES

    n = _FLUSH_VALUES + 5000
    pairs = [("hot", str(i)) if i % 7 else ("cold", str(i)) for i in range(n + n // 6)]
    rdd = spark.sparkContext.parallelize(pairs, 1)
    want = _emission_order_groups(pairs)
    assert len(want["hot"]) > _FLUSH_VALUES
    got = dict(mr_run_pairs(rdd, lambda _k, vs: ",".join(vs), num_partitions=2).collect())
    assert got == {k: ",".join(vs) for k, vs in want.items()}


def test_distinct_keys_pass_through_in_order(spark):
    """Where keys barely repeat, grouping stops after the first window and
    the rest of the task ships plain pairs; a key whose values sit both in
    a grouped run and in plain pairs still reaches the reducer complete
    and in emission order."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import (
        _SAMPLE_VALUES,
        _group_partition,
    )

    pairs = [(f"k{i % 3000}", str(i)) for i in range(20000)]
    records = list(_group_partition(iter(pairs)))
    assert len(records) == 3000 + len(pairs) - _SAMPLE_VALUES
    assert records[3000:] == pairs[_SAMPLE_VALUES:]

    rdd = spark.sparkContext.parallelize(pairs, 1)
    got = dict(mr_run_pairs(rdd, lambda _k, vs: ",".join(vs), num_partitions=3).collect())
    assert got == {k: ",".join(vs) for k, vs in _emission_order_groups(pairs).items()}


def test_group_buffer_is_bounded_by_bytes(spark):
    """Large values flush the map-side buffer long before its value count
    fills, and still reach the reducer whole and in order."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import (
        _FLUSH_BYTES,
        _group_partition,
    )

    mib = 1 << 20
    pulled = 0

    def big_values():
        nonlocal pulled
        for i in range(48):
            pulled += 1
            yield "k", chr(65 + i) * mib

    first = next(_group_partition(big_values()))
    assert (pulled - 1) * mib <= _FLUSH_BYTES
    assert first[1][0][0] == "A"

    rdd = spark.sparkContext.parallelize(range(24), 1).map(lambda i: ("k", chr(65 + i) * mib))
    got = mr_run_pairs(rdd, lambda _k, vs: "".join(v[0] + str(len(v)) for v in vs), 2).collect()
    assert got == [("k", "".join(chr(65 + i) + str(mib) for i in range(24)))]


@pytest.mark.parametrize("name", ["mr_api_wordcount", "mr_api_wordcount_combined"])
def test_mapreduce_facade_matches_oracle(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)

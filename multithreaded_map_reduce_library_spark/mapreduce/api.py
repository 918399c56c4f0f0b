"""MapReduce user-function parity facade (SURVEY.md §7 Phase 1).

Reproduces the reference's API contract (mapreduce.h:44-83) on Spark RDDs:

- ``MR_Run(file_count, file_names, mapper, reducer, num_workers, num_parts)``
  (mapreduce.c:41-103)  ->  :func:`mr_run`
- ``Mapper`` — per-file UDTF emitting (key, value) pairs via ``MR_Emit``
  (mapreduce.h:5, distwc.c:8-22)  ->  ``mapper(filename, content) ->
  Iterable[(str, str)]`` (emission by yielding, not a side-effect API)
- ``MR_Partitioner`` DJB2 hash routing (mapreduce.c:154-160)  ->
  ``partitionFunc=djb2`` in ``repartitionAndSortWithinPartitions``
- map-side grouping: where keys repeat within a map task, it ships one
  ``(key, run of values)`` record per key and buffer window instead of
  one record per pair; no values are combined, so reducers see the same
  values in the same order.
- sort-within-partition at shuffle (mapreduce.c:123-141)  ->
  ``repartitionAndSortWithinPartitions`` (Spark sorts at shuffle read;
  same observable order, without the reference's O(n²) insertion sort)
- ``Reducer`` + ``MR_GetNext`` value-iterator contract (mapreduce.h:6,83;
  mapreduce.c:199-213)  ->  ``reducer(key, values_iterator) -> str``,
  driven by ``itertools.groupby`` over the sorted partition, unpacking
  each key's value runs — lazy, one pass, early-exit, exactly the cursor
  semantics of MR_GetNext.
- ``num_workers`` (distwc.c:38)  ->  Spark executor cores; accepted and
  ignored (scheduling is Spark's job, SURVEY.md §4).

This is the *parity* layer: its contract is "arbitrary Python functions
over a grouped iterator", which is the one place RDDs are the right tool.
The scale path for everything expressible relationally is the DataFrame
engine (operators/, plans/).
"""

from __future__ import annotations

import itertools
import sys
from collections.abc import Callable, Iterable, Iterator
from operator import itemgetter

from pyspark import RDD
from pyspark.sql import SparkSession

from multithreaded_map_reduce_library_spark.functions.hashing import djb2

Mapper = Callable[[str, str], Iterable[tuple[str, str]]]
Reducer = Callable[[str, Iterator[str]], str]


# Map-side grouping. A task groups its first _SAMPLE_VALUES pairs, then
# windows of up to _FLUSH_VALUES values or ~_FLUSH_BYTES of buffered keys
# and values, whichever fills first. A window with fewer than
# _MIN_REPEAT pairs per distinct key ends grouping for the rest of the
# task: on such keys the shuffle sheds few records and every pair pays a
# dict insert and a run (+25% job CPU on all-distinct keys, SCALING.md).
_SAMPLE_VALUES = 4096
_FLUSH_VALUES = 65536
_FLUSH_BYTES = 16 << 20
_MIN_REPEAT = 2
_KEY_BYTES = 128  # dict slot + _Run header, on top of the key's own size


class _Run(list):
    """One key's values grouped by one map task, in emission order. Its own
    type so the reduce side tells a grouped run from a value that crossed
    the shuffle alone."""

    __slots__ = ()


def _group_partition(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str | _Run]]:
    """Map-side grouping WITHOUT combining: where keys repeat within a map
    task, one ``(key, _Run)`` record per (task, key, window) crosses the
    shuffle instead of one per pair, so the shuffle's per-record cost
    (pickling, partitioning, sorting) is paid once per key (*Execution
    Primitives for Scalable Joins and Aggregations in Map Reduce*,
    PAPERS.md). Where they do not, the pairs pass through unchanged.
    Values keep their emission order; the buffer is bounded by value count
    and by the shallow ``sys.getsizeof`` size of the keys and value
    objects it holds."""
    part = iter(part)
    sizeof = sys.getsizeof
    groups: dict[str, _Run] = {}
    n = size = 0
    last = None
    window = _SAMPLE_VALUES
    for key, value in part:
        run = groups.get(key)
        if run is None:
            run = groups[key] = _Run()
            size += sizeof(key) + _KEY_BYTES
        run.append(value)
        n += 1
        # A value object emitted again (a mapper's constant, wordcount's
        # "1") is held once; skipping its size keeps getsizeof off the
        # per-pair path of such mappers.
        if value is not last:
            size += sizeof(value)
            last = value
        if n == window or size > _FLUSH_BYTES:
            yield from groups.items()
            if n < _MIN_REPEAT * len(groups):
                yield from part
                return
            groups = {}
            n = size = 0
            last = None
            window = _FLUSH_VALUES
    yield from groups.items()


def _values(records: Iterator[tuple[str, str | _Run]]) -> Iterator[str]:
    for _, value in records:
        if type(value) is _Run:
            yield from value
        else:
            yield value


def _reduce_partition(reducer: Reducer):
    def run(part: Iterator[tuple[str, str | _Run]]) -> Iterator[tuple[str, str]]:
        # Sorted partition -> one reducer call per unique key (MR_Reduce
        # loop, mapreduce.c:169-188). The sort is stable, so a key's records
        # arrive in map-block fetch order, and unpacking each run replays
        # exactly the ungrouped order. groupby consumes exactly the run of
        # equal keys and _values stays lazy — the MR_GetNext early-exit
        # (mapreduce.c:206) for free.
        for key, records in itertools.groupby(part, key=itemgetter(0)):
            yield key, reducer(key, _values(records))

    return run


def _combine_partition(combiner: Reducer):
    def run(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        # Map-side combine: run the combiner per grouped key BEFORE the
        # shuffle, so only one value per (task, key, window) crosses the
        # wire. The reference has no combiner — every ("w","1") pair is
        # materialized and shuffled (mapreduce.c:111-144, SURVEY.md §4);
        # this is the upgrade Catalyst applies automatically as partial
        # HashAggregate, surfaced in the RDD facade. Pairs that grouping
        # passed through reach the reducer uncombined, which the combiner
        # contract allows.
        for key, value in _group_partition(part):
            yield key, combiner(key, iter(value)) if type(value) is _Run else value

    return run


def mr_run_pairs(
    pairs: RDD,
    reducer: Reducer,
    num_partitions: int = 10,
    combiner: Reducer | None = None,
) -> RDD:
    """Shuffle + reduce phases over an already-mapped pair RDD.

    Map-side grouping of repeated keys, DJB2 partitioning (shard parity
    with the reference) + byte-order sort within each partition (quirk
    Q3), then the grouped-iterator reduce. Each key's values reach the
    reducer in map-block fetch order, emission order within a block.

    ``combiner``, if given, runs map-side per grouped key first (Hadoop
    combiner contract: same signature as the reducer, output feedable
    back into the reducer, applied zero or more times — requires an
    associative reduction, e.g. SUM of partials rather than the
    reference's COUNT-of-occurrences quirk Q2).
    """
    grouped = pairs.mapPartitions(
        _group_partition if combiner is None else _combine_partition(combiner)
    )
    parted = grouped.repartitionAndSortWithinPartitions(
        numPartitions=num_partitions,
        partitionFunc=lambda k: djb2(k, num_partitions),
    )
    return parted.mapPartitions(_reduce_partition(reducer), preservesPartitioning=True)


def mr_run(
    spark: SparkSession,
    file_names: list[str],
    mapper: Mapper,
    reducer: Reducer,
    num_workers: int | None = None,  # noqa: ARG001 — Spark schedules (SURVEY.md §4)
    num_partitions: int = 10,
    output_dir: str | None = None,
) -> RDD:
    """Run a MapReduce job with the reference's API shape (MR_Run).

    Returns the (key, reduced_value) pair RDD, partitioned by
    ``djb2(key) % num_partitions`` and key-sorted within partitions. If
    ``output_dir`` is given, also writes ``part-0000p`` text files with
    ``"key: value"`` lines — shard *p* corresponds to the reference's
    ``result-<p>.txt`` (distwc.c:31-34).

    Unlike the reference (whole file per map task, mapreduce.c:73-75), each
    input may still be split further only if the caller pre-splits; parity
    mode keeps one record per file so per-file mappers see full content.
    Missing files raise here rather than silently becoming size-0 inputs
    (reference bug Q4, mapreduce.c:66-69).
    """
    sc = spark.sparkContext
    files = sc.wholeTextFiles(",".join(file_names), minPartitions=len(file_names))
    pairs = files.flatMap(lambda fc: mapper(fc[0], fc[1]))
    reduced = mr_run_pairs(pairs, reducer, num_partitions)
    if output_dir is not None:
        reduced.map(lambda kv: f"{kv[0]}: {kv[1]}").saveAsTextFile(output_dir)
    return reduced


def wordcount_mapper(_filename: str, content: str) -> Iterable[tuple[str, str]]:
    """The reference word-count Map (distwc.c:8-22): strsep on " \\t\\n\\r",
    emit ("token", "1"). Empty tokens filtered per quirk Q1 decision."""
    for line in content.split("\n"):
        for tok in line.replace("\t", " ").replace("\r", " ").split(" "):
            if tok:
                yield tok, "1"


def wordcount_reducer(_key: str, values: Iterator[str]) -> str:
    """The reference word-count Reduce (distwc.c:24-35): count occurrences,
    ignore value content (quirk Q2 — COUNT(*), not SUM)."""
    return str(sum(1 for _ in values))


def wordcount_sum_reducer(_key: str, values: Iterator[str]) -> str:
    """Combiner-compatible word-count reduction: SUM of integer partials.
    With values all "1" it equals the reference's COUNT (quirk Q2), and
    unlike it, it is associative — usable as both combiner and final
    reducer."""
    return str(sum(int(v) for v in values))

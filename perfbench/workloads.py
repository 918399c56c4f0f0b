"""The benchmark's workloads: which engine calls each one times, and how
each call's output is checked.

An op is built (``build``: the driver-side plan, including any job Spark
runs while building it) and then executed (``action``). ``warm_action``
is the action the set-up passes run: for relational ops it collects the
rows, which are later compared with the DuckDB oracle outside any timing.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from multithreaded_map_reduce_library_spark.functions.hashing import djb2
from multithreaded_map_reduce_library_spark.mapreduce.api import (
    mr_run,
    wordcount_mapper,
    wordcount_reducer,
)
from multithreaded_map_reduce_library_spark.operators.wordcount import wordcount_files
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.session import repin
from multithreaded_map_reduce_library_spark.sources.sinks import write_partitioned_text

import gen

SHARDS = 10

#: The relational queries of the star-schema workload.
STAR_OPS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "tpcds_channel_union_star",
    "salted_skew_join_revenue",
)


@dataclass
class Op:
    name: str
    build: Callable[[Any], Any]
    action: Callable[[Any], Any]
    #: the action of the first set-up pass
    warm_action: Callable[[Any], Any]
    #: raises AssertionError when a result is wrong; None means the op is
    #: checked against the oracle instead
    check: Callable[[Any], None] | None = None


def _noop_write(df) -> None:
    repin(df).write.format("noop").mode("overwrite").save()


class _Collected:
    """Rows already collected, shaped like the DataFrame that
    ``tests.oracle_util.compare_query`` expects."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self._rows = [tuple(r) for r in repin(df).collect()]

    def collect(self):
        return self._rows


def star_ops(data_dir: str) -> list[Op]:
    queries = all_queries()
    return [
        Op(
            name,
            build=lambda spark, q=queries[name]: q.fn(spark, data_dir),
            action=_noop_write,
            warm_action=_Collected,
        )
        for name in STAR_OPS
    ]


def oracle_check(name: str, collected: _Collected, data_dir: str) -> None:
    """The registry's oracle SQL through DuckDB, compared with the repo's
    comparator; raises AssertionError on a mismatch."""
    from tests.oracle_util import compare_query

    compare_query(None, lambda _s, _d: collected, all_queries()[name].oracle, data_dir)


def check_shards(shards: dict[int, list[tuple[str, int]]], k: int) -> None:
    """The reference's golden invariant: every vocabulary word counted
    exactly ``k`` times, each key in shard ``djb2(key) % 10``, keys in
    strcmp order within a shard."""
    seen = {}
    for pid, rows in shards.items():
        keys = [key for key, _ in rows]
        assert keys == sorted(keys, key=lambda s: s.encode()), f"shard {pid} not in strcmp order"
        for key, cnt in rows:
            assert djb2(key, SHARDS) == pid, f"{key!r} in shard {pid}, djb2 says {djb2(key, SHARDS)}"
            seen[key] = seen.get(key, 0) + int(cnt)
    want = {w: k for w in gen.CORPUS_VOCAB}
    assert seen == want, f"counts differ from golden: {sorted(set(seen.items()) ^ set(want.items()))[:5]}"


def _read_sink(out_dir: str) -> dict[int, list[tuple[str, int]]]:
    shards = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "pid=*"))):
        rows = []
        for path in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(path, encoding="utf-8") as f:
                rows += [tuple(line.rstrip("\n").split(": ")) for line in f if line.strip()]
        shards[int(d.rsplit("=", 1)[1])] = [(key, int(v)) for key, v in rows]
    return shards


def mr_ops(files: list[str], k: int, tmp_dir: str) -> list[Op]:
    """The reference's word count two ways: the MapReduce API over an RDD,
    and the DataFrame word count written through the DJB2-partitioned text
    sink."""

    def rdd_action(rdd):
        return {p: rows for p, rows in enumerate(rdd.glom().collect()) if rows}

    sink_dir = os.path.join(tmp_dir, "sink")

    def sink_action(df):
        write_partitioned_text(df, sink_dir, value_col="cnt", num_partitions=SHARDS)
        return sink_dir

    def sink_check(out_dir):
        try:
            check_shards(_read_sink(out_dir), k)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    return [
        Op(
            "mr_run",
            build=lambda spark: mr_run(spark, files, wordcount_mapper, wordcount_reducer, num_partitions=SHARDS),
            action=rdd_action,
            warm_action=rdd_action,
            check=lambda shards: check_shards(shards, k),
        ),
        Op(
            "wordcount_sink",
            build=lambda spark: wordcount_files(spark, files),
            action=sink_action,
            warm_action=sink_action,
            check=sink_check,
        ),
    ]

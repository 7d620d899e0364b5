"""The benchmark's workloads: which registered queries each one runs.

Every query is a ``(spark, data_dir) -> DataFrame`` callable from the
program's registry, checked against that registry entry's DuckDB oracle SQL.
The one exception is ``io_partitioned_write``: the registry's
``q15_partitioned_write`` writes to a fixed path under ``/tmp``, so the
benchmark runs the same plan (``io.write_partitioned`` then a read-back
count) with the sink inside the run's scratch directory, against the
registry's q15 oracle.
"""

from __future__ import annotations

import os
import random
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

WORKLOADS: dict[str, list[str]] = {
    # scan, join, aggregate and exchange through io.load_table and
    # Catalyst/AQE; no writes, no iteration. Not in BENCHMARK.json: the run
    # budget there fits two workloads (see README.md); run it by hand.
    "olap": [
        "tq1_pricing_summary",
        "tq3_shipping_priority",
        "tq6_forecast_revenue",
        "tq18_large_volume_customer",
        "tq21_waiting_suppliers",
        "q01_wordcount",
    ],
    # fixed-point and round-based operators: per-round jobs,
    # localCheckpoint and collect on the driver
    "iterative": [
        "grf_kcore",
        "txt_train_lr",
    ],
    # the io/sources layers on the write side, plus a total-order sort
    "etl_write": [
        "io_partitioned_write",
        "src_avro_roundtrip",
        "bench_terasort_big",
    ],
}

# Rows of the in-memory TeraGen input of bench_terasort_big. The registry
# reads SPARK_GRAFT_TERA_BIG when it is imported, so set it before that.
TERA_ROWS = 300_000


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable
    oracle: str


def _io_partitioned_write(spark, data_dir: str):
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark import io

    out = os.path.join(tempfile.gettempdir(), "io_partitioned_write")
    io.write_partitioned(io.load_table(spark, data_dir, "lineitem"), out, "l_returnflag")
    back = spark.read.parquet(out)
    return back.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def queries(workload: str) -> list[Query]:
    """The workload's queries, resolved against the program's registry."""
    from hadoop_2_7_1_spark.queries import REGISTRY

    out = []
    for name in WORKLOADS[workload]:
        if name == "io_partitioned_write":
            out.append(Query(name, _io_partitioned_write, REGISTRY["q15_partitioned_write"].oracle))
        else:
            spec = REGISTRY[name]
            out.append(Query(name, spec.fn, spec.oracle))
    return out


def pass_order(items: list, seed: int, pass_no: int) -> list:
    """The seeded query order of one pass."""
    order = list(items)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order

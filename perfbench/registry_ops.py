"""The ``registry`` workload: named queries from ``pg2parquet_spark.registry``
over the benchmark's copy of the sf0.01 fixtures, each materialized into the
``noop`` sink.

An op is one query: ``fn(spark, sf_dir)`` (driver-side DataFrame build),
then the noop write. A ``DataFrame.observe`` row count rides along with the
write, so every op's output is checked against the committed row count
without a second pass over the data.
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED_ROWS = os.path.join(HERE, "expected_rows_sf0.01.json")

# JVM-only plans: no Python node in any of them. The heaviest driver-side
# builder (sink_roundtrip, which also writes Parquet), a multi-join (q03)
# and a plain aggregation (q01).
ANALYTICS = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "sink_roundtrip",
)

# Embedding-dedup queries whose plans cross the Python/Arrow boundary
# (MapInPandas / FlatMapGroupsInPandas): the IVF cell-triangle kernel and the
# LSH bucket-block scorer.
EMBEDDING_DEDUP = (
    "dedup_embedding_ivf",
    "dedup_embedding_cosine_lsh",
)

OPS = ANALYTICS + EMBEDDING_DEDUP


class RegistryWorkload:
    ops = OPS

    def __init__(self, spark, tracer):
        from pg2parquet_spark.registry import load_all

        self.spark = spark
        self.tracer = tracer
        with open(EXPECTED_ROWS) as f:
            self.expected = json.load(f)
        with tracer.span("registry.load_all"):
            self.registry = load_all()
        missing = [op for op in self.ops if op not in self.registry]
        if missing:
            raise RuntimeError(f"queries missing from the registry: {missing}")

    def run_op(self, op: str, traced: bool) -> tuple[float, str | None]:
        """Run one op; return (seconds, error or None). The row-count check
        happens after the clock stops."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        span = self.tracer.span
        t0 = time.perf_counter()
        with span("operators.build", op=op):
            df = self.registry[op].fn(self.spark, SF_DIR)
        obs = Observation(op)
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if traced:
            with span("catalyst.plan", op=op):
                df._jdf.queryExecution().executedPlan()
        with span("spark.exec", op=op):
            df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        rows = obs.get["rows"]
        if rows != self.expected[op]:
            return dt, f"{op}: {rows} rows, expected {self.expected[op]}"
        return dt, None

    def rows_per_pass(self) -> int:
        return sum(self.expected[op] for op in self.ops)

    def layers(self, untraced: dict[str, list[float]]) -> dict:
        return {f"query.{op}_s": median(untraced[op]) for op in self.ops}

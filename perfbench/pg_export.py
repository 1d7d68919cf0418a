"""The ``pg_export`` workload: one seeded PostgreSQL table becomes committed
Parquet through the program's own path.

    rewrite_query_for_exotics -> pgcopy.read (nproc range partitions on id)
    -> scalar casts + enum_to_int / parse_range / parse_composite_fast /
       parse_array_text + flatten_with_dims / parse_vector
    -> export() (zstd level 3, otherwise default options)

One op is one full export. After the clock stops, the committed files are
read back with pyarrow and their fingerprint is compared with the same
aggregates computed by the server.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from statistics import median

import pgserver
from harness import MIB

ROWS = 100_000
OP = "export"


def _typemap_columns(cat: dict) -> dict[str, list]:
    """Parser family -> the output columns it produces from the text frame."""
    from pyspark.sql import functions as F

    from pg2parquet_spark.typemap import (
        enum_to_int, flatten_with_dims, numeric_to_double, parse_composite_fast,
        parse_range, parse_vector,
    )
    from pg2parquet_spark.typemap.arrays import parse_array_text

    col = F.col

    def to_int(c):
        return c.cast("int")

    return {
        "scalars": [
            col("id").cast("bigint").alias("id"),
            numeric_to_double(col("amount")).alias("amount"),
            col("ts").cast("timestamp").alias("ts"),
            col("day").cast("date").alias("day"),
            col("score").cast("double").alias("score"),
            col("flag").cast("boolean").alias("flag"),
            col("note"),
        ],
        "enum": [enum_to_int(col("mood"), cat["labels"]).alias("mood")],
        "range": [parse_range(col("span"), to_int).alias("span")],
        "composite": [
            parse_composite_fast(col("dims"), cat["fields"], [to_int] * len(cat["fields"]))
            .alias("dims")
        ],
        "array": [
            flatten_with_dims(parse_array_text(col("grid"), "array<array<int>>"), 2)
            .alias("grid")
        ],
        "vector": [parse_vector(col("vec")).alias("vec")],
    }


class PgExportWorkload:
    ops = (OP,)

    def __init__(self, spark, tracer, cluster, table: str, rows: int,
                 fingerprint: dict, out_dir: str, nproc: int):
        from pg2parquet_spark.export import export
        from pg2parquet_spark.options import ExportOptions
        from pg2parquet_spark.registry import load_all

        self.spark, self.tracer = spark, tracer
        self.cluster, self.table, self.rows = cluster, table, rows
        self.fingerprint = fingerprint
        self.out_dir = out_dir
        self.nproc = nproc
        self._export = export
        self.options = ExportOptions(compression="zstd", compression_level=3)
        self.last_output: dict = {}
        self._n = 0
        # the registry is loaded on every workload so set-up covers it alike
        with tracer.span("registry.load_all"):
            load_all()

    # -- the op ---------------------------------------------------------
    def _catalog(self) -> dict:
        from pg2parquet_spark.sources import pgcopy
        from pg2parquet_spark.sources.jdbc import COMPOSITE_FIELDS_SQL, ENUM_LABELS_SQL

        conn = self.cluster.conn()
        labels = [lab for t, lab in pgcopy.run_sql(conn, ENUM_LABELS_SQL) if t == "pb_mood"]
        fields = [f for t, f, _, _ in pgcopy.run_sql(conn, COMPOSITE_FIELDS_SQL) if t == "pb_dims"]
        return {"labels": labels, "fields": fields}

    def _query(self) -> str:
        from pg2parquet_spark.sources.jdbc import rewrite_query_for_exotics

        return rewrite_query_for_exotics(
            f"SELECT * FROM {self.table}", list(pgserver.COLUMNS), pgserver.EXOTIC)

    def read_raw(self):
        """pgcopy.read's eager part: catalog + sentinel + schema probes."""
        from pg2parquet_spark.sources import pgcopy

        cat = self._catalog()
        raw = pgcopy.read(
            self.spark, self.cluster.conn(), query=self._query(),
            partition_column="id", lower_bound=1, upper_bound=self.rows + 1,
            num_partitions=self.nproc,
        )
        return raw, cat

    def typed(self, raw, cat):
        return raw.select(*[c for fam in _typemap_columns(cat).values() for c in fam])

    def run_op(self, op: str, traced: bool) -> tuple[float, str | None]:
        span = self.tracer.span
        self._n += 1
        out = os.path.join(self.out_dir, f"export-{self._n}")
        t0 = time.perf_counter()
        with span("pgcopy.probe"):
            raw, cat = self.read_raw()
        with span("operators.build"):
            df = self.typed(raw, cat)
        if traced:
            with span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with span("spark.exec"):
            self._export(df, out, self.options, quiet=True)
        dt = time.perf_counter() - t0
        try:
            return dt, self._check(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _check(self, out: str) -> str | None:
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        if not os.path.exists(os.path.join(out, "_SUCCESS")) or not files:
            return "export left no committed Parquet"
        size = sum(os.path.getsize(os.path.join(out, f)) for f in files)
        self.last_output = {"files": len(files), "bytes": size}
        bad = pgserver.fingerprint_mismatches(
            self.fingerprint, pgserver.output_fingerprint(out))
        return "; ".join(bad) or None

    def rows_per_pass(self) -> int:
        return self.rows

    # -- the traced run's layer passes ---------------------------------
    def _noop(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _timed_read(self) -> float:
        t0 = time.perf_counter()
        raw, cat = self.read_raw()
        self._noop(self.typed(raw, cat))
        return time.perf_counter() - t0

    def typemap_costs(self, raw, cat) -> dict[str, float]:
        """Each parser family's own cost: the text frame is cached once, then
        (family's parsed columns -> noop) minus (the same input columns
        unparsed -> noop), best of two. Reading the cache instead of the
        wire keeps COPY and worker noise out of the difference."""
        cached = raw.cache()
        cached.count()
        try:
            out = {}
            for fam, cols in _typemap_columns(cat).items():
                parsed_df = cached.select(*cols)
                # every parsed column keeps its input column's name
                inputs = parsed_df.columns
                parsed = min(self._noop(parsed_df) for _ in range(2))
                unparsed = min(self._noop(cached.select(*inputs)) for _ in range(2))
                out[f"typemap.{fam}_s"] = parsed - unparsed
            return out
        finally:
            cached.unpersist()

    def layers(self, untraced: dict[str, list[float]]) -> dict:
        span = self.tracer.span
        export_s = median(untraced[OP])
        out: dict[str, float] = {}
        with span("pg.copy_floor"):
            out["pg.copy_floor_s"], wire = self.copy_floor()
        with span("floor.pyarrow"):
            out["floor.pyarrow_s"] = self.pyarrow_floor()
        out["floor.ratio"] = export_s / out["floor.pyarrow_s"]
        out["pgcopy.wire_mib"] = wire / MIB
        with span("pgcopy.read"):
            t0 = time.perf_counter()
            with span("pgcopy.probe"):
                raw, cat = self.read_raw()
            out["pgcopy.probe_s"] = time.perf_counter() - t0
            self._noop(raw)
            out["pgcopy.read_s"] = time.perf_counter() - t0
        with span("typemap"):
            out.update(self.typemap_costs(raw, cat))
        with span("typed_read"):
            typed_s = self._timed_read()
        out["export.write_s"] = export_s - typed_s
        out["export.out_mib"] = self.last_output["bytes"] / MIB
        out["export.files"] = self.last_output["files"]
        out["export.bytes_per_row"] = self.last_output["bytes"] / self.rows
        return out

    def _range_sql(self) -> list[str]:
        step = max(self.rows // self.nproc, 1)
        edges = [1 + i * step for i in range(1, self.nproc)]
        lo = [None] + edges
        hi = edges + [None]
        preds = [" AND ".join(p for p in (l and f"id >= {l}", h and f"id < {h}") if p) or "TRUE"
                 for l, h in zip(lo, hi)]
        return [f"SELECT * FROM ({self._query()}) q WHERE {p}" for p in preds]

    def copy_floor(self) -> tuple[float, int]:
        """The same range queries through psql, all at once, their output
        drained and discarded. Returns (seconds, CSV bytes shipped)."""
        from concurrent.futures import ThreadPoolExecutor

        def drain(proc) -> int:
            n = 0
            while chunk := os.read(proc.stdout.fileno(), MIB):
                n += len(chunk)
            if proc.wait():
                raise RuntimeError("COPY floor: psql failed")
            return n

        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                self.cluster.psql_argv() + ["-c", f"COPY ({sql}) TO STDOUT (FORMAT csv)"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            for sql in self._range_sql()
        ]
        with ThreadPoolExecutor(len(procs)) as pool:
            wire = sum(pool.map(drain, procs))
        return time.perf_counter() - t0, wire

    def pyarrow_floor(self) -> float:
        """One process: psql COPY | pyarrow.csv | pyarrow.parquet (zstd 3),
        single-threaded."""
        import pyarrow as pa
        import pyarrow.csv as pacsv
        import pyarrow.parquet as pq

        path = os.path.join(self.out_dir, "floor.parquet")
        t0 = time.perf_counter()
        r = subprocess.run(
            self.cluster.psql_argv()
            + ["-c", f"COPY ({self._query()}) TO STDOUT (FORMAT csv, HEADER true)"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, check=True)
        table = pacsv.read_csv(
            pa.BufferReader(r.stdout),
            read_options=pacsv.ReadOptions(use_threads=False),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                true_values=["t"], false_values=["f"], strings_can_be_null=True,
                quoted_strings_can_be_null=False),
        )
        pq.write_table(table, path, compression="zstd", compression_level=3)
        dt = time.perf_counter() - t0
        os.remove(path)
        return dt


def start_server(state_dir: str, seed: int, rows: int) -> tuple:
    """Start the cluster and make sure the seeded table and its server-side
    fingerprint exist. Returns (cluster, table, fingerprint, info)."""
    cluster = pgserver.Cluster(state_dir)
    try:
        t0 = time.perf_counter()
        cluster.start()
        info = {"pg_start_s": time.perf_counter() - t0}
        table, gen_s, created = pgserver.ensure_table(cluster, seed, rows)
        fp = pgserver.server_fingerprint(cluster, table)
    except BaseException:
        cluster.stop()
        raise
    info.update(table=table, gen_s=gen_s, generated_now=created, rows=rows)
    return cluster, table, fp, info


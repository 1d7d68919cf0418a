"""A throwaway PostgreSQL 15 cluster inside the checkout, and the seeded
``pg_export`` source table.

The cluster lives under the benchmark's state directory, listens on
127.0.0.1 only (no unix socket, so the path length of the checkout does not
matter) and is started and stopped by every run that uses it. Its data
directory persists, so a table generated for one (seed, rows) pair is reused
by later runs with the same pair.

PostgreSQL refuses to run as root. Under root the server runs inside an
unprivileged user namespace (``unshare --user``): there it is not uid 0, yet
it still owns the files it created in the checkout.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import time

from pg2parquet_spark.sources.jdbc import PostgresConnection

# generated tables kept per cluster; older ones are dropped (least recently
# created first) so disk use stays bounded when every run brings a new seed
KEEP_TABLES = 3

ENUM_LABELS = ("sad", "ok", "happy", "ecstatic")
# column -> pg type class, as rewrite_query_for_exotics expects it
EXOTIC = {
    "mood": "enum",
    "span": "range",
    "dims": "composite",
    "vec": "vector",
    "grid": "multidim_array",
}
COLUMNS = (
    "id", "amount", "ts", "day", "score", "flag", "note",
    "mood", "span", "dims", "grid", "vec",
)


def _server_cmd(argv: list[str]) -> list[str]:
    if os.geteuid() == 0:
        return ["unshare", "--user"] + argv
    return argv


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Cluster:
    def __init__(self, state_dir: str):
        self.root = os.path.join(state_dir, "pg")
        self.data = os.path.join(self.root, "data")
        self.log = os.path.join(self.root, "server.log")
        self.port: int | None = None

    def psql_argv(self) -> list[str]:
        return [
            "psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", "postgres",
            "-d", "postgres", "-X", "-q", "-A", "-t", "-v", "ON_ERROR_STOP=1",
        ]

    def psql(self, sql: str) -> str:
        r = subprocess.run(
            self.psql_argv(), input=sql, capture_output=True, text=True,
            env=dict(os.environ, PGCLIENTENCODING="UTF8"),
        )
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.strip()[:500]}")
        return r.stdout

    def conn(self) -> PostgresConnection:
        return PostgresConnection(url=f"postgres://postgres@127.0.0.1:{self.port}/postgres")

    def start(self) -> None:
        for tool in ("initdb", "pg_ctl", "psql"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} is not installed")
        os.makedirs(self.root, exist_ok=True)
        if not os.path.exists(os.path.join(self.data, "PG_VERSION")):
            r = subprocess.run(
                _server_cmd(["initdb", "-D", self.data, "-U", "postgres",
                             "--auth=trust", "-E", "UTF8", "--locale=C"]),
                capture_output=True, text=True,
            )
            if r.returncode != 0:
                raise RuntimeError(f"initdb failed: {r.stderr.strip()[:500]}")
        # a server left behind by a killed run holds the data directory
        subprocess.run(_server_cmd(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"]),
                       capture_output=True)
        self.port = _free_port()
        # no unix socket and file-backed dynamic shared memory: the server
        # writes nothing outside its data directory
        opts = (f"-p {self.port} -c listen_addresses=127.0.0.1 "
                "-c unix_socket_directories='' -c dynamic_shared_memory_type=mmap "
                "-c fsync=off -c TimeZone=UTC")
        r = subprocess.run(
            _server_cmd(["pg_ctl", "-D", self.data, "-o", opts, "-l", self.log, "-w", "start"]),
            capture_output=True, text=True,
        )
        if r.returncode != 0:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr.strip()[:500]}")

    def stop(self) -> None:
        subprocess.run(_server_cmd(["pg_ctl", "-D", self.data, "-m", "fast", "-w", "stop"]),
                       capture_output=True)


_TYPES_SQL = """
DO $$ BEGIN
  CREATE TYPE pb_mood AS ENUM ({labels});
EXCEPTION WHEN duplicate_object THEN NULL; END $$;
DO $$ BEGIN
  CREATE TYPE pb_dims AS (w int, h int);
EXCEPTION WHEN duplicate_object THEN NULL; END $$;
CREATE TABLE IF NOT EXISTS pb_tables (
  name text PRIMARY KEY, created timestamptz, gen_s float8, fingerprint json);
"""

# One row per id; every random draw happens once per row in the CTE, so a
# seed fixes the whole table. The note column mixes the CSV hazards: NULL,
# '', double quotes, embedded newlines, commas, tabs, '' quotes and
# non-ASCII. Nothing generated equals the COPY source's NULL sentinel
# (__PG_NULL__): data that does is a documented limit of that source, not a
# timing case.
_TABLE_SQL = """
SET max_parallel_workers_per_gather = 0;
SELECT setseed({setseed});
CREATE TABLE {name} AS
WITH r AS (
  SELECT g, random() r1, random() r2, random() r3, random() r4, random() r5,
         random() r6, random() r7, random() r8, random() r9, random() r10,
         random() r11, random() r12, random() r13, random() r14, random() r15,
         random() r16, random() r17, random() r18, random() r19, random() r20,
         random() r21, random() r22, random() r23, random() r24, random() r25
  FROM generate_series(1, {rows}) g
)
SELECT
  g::int8 AS id,
  round((r1 * 2000000 - 1000000)::numeric, 6)::numeric(18,6) AS amount,
  timestamptz '2015-01-01 00:00:00+00' + r2 * 300000000 * interval '1 second' AS ts,
  date '1990-01-01' + floor(r3 * 15000)::int AS day,
  CASE WHEN r4 < 0.1 THEN NULL ELSE r5 * 1000 - 500 END::float8 AS score,
  CASE WHEN r4 > 0.95 THEN NULL ELSE r6 < 0.5 END AS flag,
  CASE floor(r7 * 8)::int
    WHEN 0 THEN NULL
    WHEN 1 THEN ''
    WHEN 2 THEN 'she said "' || g || '", then left'
    WHEN 3 THEN 'line ' || g || E'\\nsecond line, with a comma'
    WHEN 4 THEN 'naïve café ' || g || ' — 東京 ☃'
    WHEN 5 THEN E'tab\\there ''quoted'' ' || g
    ELSE repeat(md5(r8::text), 1 + floor(r9 * 3)::int)
  END AS note,
  CASE WHEN r10 < 0.05 THEN NULL
       ELSE (enum_range(NULL::pb_mood))[1 + floor(r11 * 4)::int] END AS mood,
  CASE WHEN r12 < 0.05 THEN 'empty'::int4range
       WHEN r12 < 0.10 THEN NULL
       WHEN r12 < 0.15 THEN int4range(NULL, floor(r13 * 1000000)::int - 500000)
       ELSE int4range(floor(r13 * 1000000)::int - 500000,
                      floor(r13 * 1000000)::int - 499999 + floor(r14 * 100)::int) END AS span,
  CASE WHEN r15 < 0.05 THEN NULL
       WHEN r15 < 0.08 THEN ROW(NULL, floor(r16 * 1000)::int)::pb_dims
       ELSE ROW(floor(r17 * 1000)::int, floor(r16 * 1000)::int)::pb_dims END AS dims,
  CASE WHEN r18 < 0.05 THEN NULL
       ELSE ARRAY[ARRAY[floor(r19 * 2001)::int - 1000, floor(r20 * 2001)::int - 1000],
                  ARRAY[floor(r21 * 2001)::int - 1000, floor(r22 * 2001)::int - 1000]] END AS grid,
  CASE WHEN r23 < 0.05 THEN NULL
       ELSE '[' || round(r24::numeric, 4) || ',' || round(r25::numeric, 4) || ','
            || round((1 - r24)::numeric, 4) || ',' || round((r24 * r25)::numeric, 4) || ']' END AS vec
FROM r;
INSERT INTO pb_tables VALUES ('{name}', now(), {gen_s}, NULL);
"""


def table_name(seed: int, rows: int) -> str:
    return f"pb_s{seed}_n{rows}".replace("-", "m")


def ensure_table(cluster: Cluster, seed: int, rows: int) -> tuple[str, float, bool]:
    """Create the (seed, rows) table if missing. Returns (name, seconds the
    generation took in the run that made it, created by this call)."""
    name = table_name(seed, rows)
    cluster.psql(_TYPES_SQL.format(labels=", ".join(f"'{x}'" for x in ENUM_LABELS)))
    got = cluster.psql(f"SELECT gen_s FROM pb_tables WHERE name = '{name}'").strip()
    if got:
        return name, float(got), False
    cluster.psql(f"DROP TABLE IF EXISTS {name}")
    # setseed takes a value in [-1, 1]; spread the integer seed over it
    setseed = ((seed * 2654435761) % 2**31) / 2**31
    t0 = time.perf_counter()
    cluster.psql(_TABLE_SQL.format(name=name, rows=rows, setseed=repr(setseed), gen_s=-1))
    gen_s = time.perf_counter() - t0
    cluster.psql(f"UPDATE pb_tables SET gen_s = {gen_s} WHERE name = '{name}'; "
                 f"VACUUM ANALYZE {name};")
    old = cluster.psql(
        f"SELECT name FROM pb_tables ORDER BY created DESC OFFSET {KEEP_TABLES}"
    ).split()
    for t in old:
        cluster.psql(f"DROP TABLE IF EXISTS {t}; DELETE FROM pb_tables WHERE name = '{t}';")
    return name, gen_s, True


# Order-insensitive fingerprint of the source table, computed by the server.
# output_fingerprint() computes the same keys from the committed Parquet.
FINGERPRINT_SQL = """
SELECT json_build_object(
  'rows', count(*),
  'sum_id', sum(id),
  'sum_amount', sum(amount)::float8,
  'sum_ts_s', sum((extract(epoch FROM ts) * 1000000)::int8 / 1000000),
  'sum_ts_frac_us', sum((extract(epoch FROM ts) * 1000000)::int8 % 1000000),
  'sum_day', sum(day - date '1970-01-01'),
  'sum_grid', sum((SELECT sum(x) FROM unnest(grid) x)),
  'sum_mood_ordinal', sum(array_position(enum_range(NULL::pb_mood), mood)),
  'empty_spans', count(*) FILTER (WHERE isempty(span)),
  'sum_span_lower', sum(lower(span)),
  'sum_dims_w', sum((dims).w),
  'vec_elements', sum(CASE WHEN vec IS NULL THEN 0 ELSE 4 END),
  'note_bytes', sum(octet_length(note)),
  'true_flags', count(*) FILTER (WHERE flag),
  'nulls', json_build_object({nulls})
) FROM {name}
"""


def server_fingerprint(cluster: Cluster, name: str) -> dict:
    """FINGERPRINT_SQL over the table, computed once and kept in pb_tables."""
    import json

    got = cluster.psql(f"SELECT fingerprint FROM pb_tables WHERE name = '{name}'").strip()
    if got:
        return json.loads(got)
    nulls = ", ".join(f"'{c}', count(*) - count({c})" for c in COLUMNS)
    fp = cluster.psql(FINGERPRINT_SQL.format(name=name, nulls=nulls)).strip()
    cluster.psql(f"UPDATE pb_tables SET fingerprint = '{fp}' WHERE name = '{name}'")
    return json.loads(fp)


def output_fingerprint(path: str) -> dict:
    """The FINGERPRINT_SQL keys, read back from a committed Parquet dataset."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table()

    def total(arr) -> int | float:
        v = pc.sum(arr).as_py()
        return 0 if v is None else v

    ts = t.column("ts")
    ts_us = ts.cast(pa.int64())
    if ts.type.unit == "ns":
        ts_us = pc.divide(ts_us, 1000)
    ts_s = pc.divide(ts_us, 1_000_000)
    return {
        "rows": t.num_rows,
        "sum_id": total(t.column("id")),
        "sum_amount": total(t.column("amount")),
        "sum_ts_s": total(ts_s),
        "sum_ts_frac_us": total(pc.subtract(ts_us, pc.multiply(ts_s, 1_000_000))),
        "sum_day": total(t.column("day").cast(pa.int32())),
        "sum_grid": total(pc.list_flatten(t.column("grid"))),
        "sum_mood_ordinal": total(t.column("mood")),
        "empty_spans": total(pc.struct_field(t.column("span"), "is_empty").cast(pa.int64())),
        "sum_span_lower": total(pc.struct_field(t.column("span"), "lower")),
        "sum_dims_w": total(pc.struct_field(t.column("dims"), "w")),
        "vec_elements": total(pc.list_value_length(t.column("vec"))),
        "note_bytes": total(pc.binary_length(t.column("note"))),
        "true_flags": total(t.column("flag").cast(pa.int64())),
        "nulls": {c: t.column(c).null_count for c in COLUMNS},
    }


def fingerprint_mismatches(want: dict, got: dict) -> list[str]:
    bad = []
    for k, w in want.items():
        g = got.get(k)
        if k == "sum_amount":
            ok = g is not None and abs(g - w) <= 1e-9 * max(1.0, abs(w))
        else:
            ok = (g if g is not None else 0) == (w if w is not None else 0)
        if not ok:
            bad.append(f"{k}: server {w!r} != parquet {g!r}")
    return bad

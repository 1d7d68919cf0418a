"""Similarity search over embedding columns (array<float>).

All strategies are pure DataFrame ops:

- `ann_cosine_topk` — brute-force exact baseline: query-set × corpus join,
  fixed-order dot product (embeddings are L2-normalized → dot = cosine),
  row_number window for top-k. O(|Q|·N) — correct at any scale when |Q| is
  bounded, and the query side broadcasts so the corpus never shuffles.
- `ann_lsh_bucketed` — the scale path: random-hyperplane sign LSH.
  Deterministic integer hyperplanes w[j][i] = (((37·i + 101·j) mod 1013)
  mod 13) − 6 (see plane_dot_sql for why the double mod is load-bearing)
  give each vector a B-bit bucket; candidates are bucket collisions only,
  then exact re-rank inside the bucket. The bucket id is the shuffle key →
  near-linear instead of quadratic.
- `ann_lsh_multitable` — recall dial: union of independent hash tables.
- `ann_ivf_probe` — inverted-file: nearest-centroid assignment, queries
  probe their top lists; the centroid id is the shuffle key.
- `ml_kmeans_fixed` — fixed-iteration Lloyd producing the IVF centroids at
  deploy time (bounded k×dim state between iterations).

Float determinism: every dot product accumulates left-assoc over elements
cast to DOUBLE first — DuckDB evaluates the unrolled `dot_sql` string, Spark
the codegen-friendly `dot_col` fold, the numpy Arrow kernels `ordered_dot`;
IEEE results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pg2parquet_spark.registry import register
from pg2parquet_spark.tables import table

EMB_DIM = 64
_PLANES = 4  # bucket bits for the LSH variant


def dot_sql(a: str, b: str, dim: int, zero_based: bool) -> str:
    """Left-assoc unrolled Σ a[i]·b[i], elements cast to DOUBLE — the same
    string shape is parsed by both engines → bit-identical IEEE result.
    Used for the DuckDB oracles; the Spark side uses `dot_col`."""
    off = -1 if zero_based else 0
    return " + ".join(
        f"CAST({a}[{i + off}] AS DOUBLE) * CAST({b}[{i + off}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )


def dot_col(a: str, b: str) -> F.Column:
    """Spark-side dot product: zip_with + left-fold aggregate.

    Bit-identical to the unrolled oracle form — `aggregate` folds
    ((0.0+t1)+t2)+… and IEEE 0.0+t1 == t1 — but ~2.3× faster: the unrolled
    64-term expression blows past the JVM codegen method-size limit and
    falls back to interpreted evaluation; this form stays in codegen at any
    dimension (measured 1.69s → 0.74s on the sf0.1 brute-force ANN)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def ordered_dot(A, B):
    """numpy twin of `dot_col` for the Arrow kernels: the (rows(A) ×
    rows(B)) block of pairwise dots, folded over DIMENSIONS — acc[i,j]
    accumulates ((0.0+t1)+t2)+… in the oracle's left-assoc IEEE order while
    vectorizing over both row axes. Never a BLAS matmul, whose reduction
    order is unspecified. Every numpy kernel that must match `dot_sql`
    bit-for-bit scores through this one function."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d : d + 1] * B[:, d][None, :]
    return acc


def plane_weights(plane: int, dim: int) -> list[int]:
    """The deterministic integer hyperplane family shared by every sign-LSH
    variant: w[i] = (((37·i + 101·plane) % 1013) % 13) − 6 for i in 1..dim.
    Single source of truth for both the unrolled oracle strings
    (plane_dot_sql) and the codegen-safe Spark columns (plane_dot_col)."""
    return [(((37 * i + 101 * plane) % 1013) % 13) - 6 for i in range(1, dim + 1)]


def plane_dot_col(emb, plane: int, dim: int) -> F.Column:
    """Codegen-SAFE Spark twin of ``plane_dot_sql``: the same Σ w[i]·emb[i]
    as a zip_with + left-fold aggregate over a literal weight array instead
    of an unrolled ~60-term sum.

    Why this exists (r7 verdict finding #1): the adaptive LSH hashes 4
    tables × 14 planes × ~60 terms in ONE projection; the unrolled SQL form
    generates >64 KB of Java in a single method, janino throws
    InternalCompilerException, and Spark silently runs the PRIMARY dedup
    operator's whole stage interpreted. Higher-order functions evaluate via
    a fixed-size loop (CodegenFallback for the HOF node only), so the
    surrounding stage compiles and every other expression stays in
    whole-stage codegen.

    Bit-exactness with the unrolled oracle string: the fold is
    ((0.0+t₁)+t₂)+… in element order and IEEE 0.0+t == t, so the sum order
    matches the oracle's left-assoc chain. The oracle SKIPS zero-weight
    terms while this form includes them as w·x = ±0.0; adding ±0.0 never
    changes an accumulator that is not −0.0, and the accumulator can never
    BE −0.0 (it starts at +0.0, +0.0 + −0.0 = +0.0, and exact cancellation
    of finite terms yields +0.0 under round-to-nearest). Multiplication
    commutes bit-exactly, and the integer weight promotes to the same
    double in both engines.

    SCOPE of the claim (r8 review): the two forms agree bit-for-bit on the
    dot VALUE except in one corner — when every included term is ±0.0 the
    oracle's chain (which starts at its first term, possibly −0.0) can
    yield −0.0 while this fold (anchored at +0.0) yields +0.0. The sign
    test `> 0` that every bucket key applies treats −0.0 and +0.0
    identically, so BUCKET KEYS are unconditionally bit-identical
    (property-tested on ±0.0/denormal/cancellation vectors in
    tests/test_property.py); do NOT expose a raw plane dot as a hash-gated
    output column without normalizing −0.0 first."""
    w = F.array(*[F.lit(float(x)) for x in plane_weights(plane, dim)])
    prods = F.zip_with(emb, w, lambda x, wj: wj * x.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, t: acc + t)


def bucket_col_offset_n(emb, dim: int, offset: int, nplanes: int) -> F.Column:
    """Codegen-safe Spark twin of ``bucket_sql_offset_n``: the n-bit sign
    bucket key as a sum of per-plane CASE bits over ``plane_dot_col`` dots.
    Same integer result as the unrolled oracle string (the sign test `> 0`
    treats ±0.0 identically, and the dots are bit-identical per
    plane_dot_col's contract)."""
    key = F.lit(0)
    for j in range(nplanes):
        key = key + F.when(
            plane_dot_col(emb, j + offset, dim) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return key


def plane_dot_expr(emb: str, plane: int, dim: int) -> str:
    """Spark-SQL-TEXT twin of ``plane_dot_col`` — the IDENTICAL zip_with +
    left-fold aggregate expression, but built as one string parsed JVM-side
    instead of a lambda-Column tree assembled through py4j. Why it exists
    (r13): constructing the adaptive LSH's 4-14 tables × 14 planes of
    nested HOF Columns cost 5-10 s of DRIVER time per query build —
    hundreds of gateway round trips per plane — which dwarfed the actual
    execution (~0.5 s) of the signature stage; the same finding the
    minhash band stage recorded in r-earlier ("each string is ONE gateway
    round trip"). Resolves to the same ZipWith/ArrayAggregate operators,
    so every bit-exactness and codegen-safety argument in
    ``plane_dot_col``'s docstring carries over unchanged (equality of the
    two forms is pinned by tests/test_property.py)."""
    w_arr = "array(" + ", ".join(f"{float(x)}D" for x in plane_weights(plane, dim)) + ")"
    return (
        f"aggregate(zip_with({emb}, {w_arr}, (x, wj) -> wj * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, t) -> acc + t)"
    )


def bucket_expr_offset_n(emb: str, dim: int, offset: int, nplanes: int) -> str:
    """SQL-text twin of ``bucket_col_offset_n`` (see plane_dot_expr): the
    n-bit sign bucket key as a sum of per-plane CASE bits."""
    return " + ".join(
        f"(CASE WHEN {plane_dot_expr(emb, j + offset, dim)} > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(nplanes)
    )


def plane_dot_sql(emb: str, plane: int, dim: int, zero_based: bool) -> str:
    """Σ w[plane][i]·emb[i] with deterministic integer weights; zero-weight
    terms are skipped identically on both sides.

    Weight family: w = (((37·i + 101·j) % 1013) % 13) − 6. The inner mod by
    a prime ≫ #planes is load-bearing: the original single-mod family
    ((37·i + 101·j) % 13) − 6 depends on j only through j mod 13, so the
    ENTIRE family contained 13 distinct hyperplanes — the 4 "independent"
    hash tables (plane offsets 0/100/200/300) shared most of their planes
    and the multi-table union recall math was silently invalid (r5 review
    finding, verified numerically: offset 300 shared 9/10 planes with
    offset 0 at 10 planes/table). With the double mod, all 40 planes used
    across the tables are pairwise distinct (pinned by
    tests/test_pipeline_ops.py::test_plane_family_is_distinct)."""
    off = -1 if zero_based else 0
    terms = []
    for i, w in enumerate(plane_weights(plane, dim), start=1):
        if w == 0:
            continue
        terms.append(f"{w} * CAST({emb}[{i + off}] AS DOUBLE)")
    return " + ".join(terms)


def bucket_sql_offset(emb: str, dim: int, zero_based: bool, offset: int) -> str:
    """Independent hash table: same sign-bucket scheme with plane ids shifted
    by ``offset`` → a different deterministic hyperplane set."""
    return bucket_sql_offset_n(emb, dim, zero_based, offset, _PLANES)


def bucket_sql_offset_n(
    emb: str, dim: int, zero_based: bool, offset: int, nplanes: int
) -> str:
    """``bucket_sql_offset`` with an explicit plane count — the corpus-adaptive
    LSH (dedup.py) hashes a FULL wide key once and masks it down to the
    data-derived bit width, so the plane count here is the maximum, not the
    effective, bucket granularity."""
    bits = [
        f"(CASE WHEN {plane_dot_sql(emb, j + offset, dim, zero_based)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(nplanes)
    ]
    return "(" + " + ".join(bits) + ")"


def bucket_sql(emb: str, dim: int, zero_based: bool) -> str:
    """B-bit sign bucket: bit j set iff plane-j dot > 0."""
    bits = [
        f"(CASE WHEN {plane_dot_sql(emb, j, dim, zero_based)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


QUERY_FILTER = "vec_id % 50 = 0"  # 10 deterministic query vectors per corpus


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE {QUERY_FILTER}),
     c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id, {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} AS cos_sim
  FROM q JOIN c ON q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Brute-force exact cosine top-5 per query vector. The query set broadcasts "
    "(10 rows) so the corpus scan never shuffles; ranking shuffles once on q_id.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.tables import spread_scan

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # the corpus side evaluates |q| unrolled 64-dim dots per row in the
    # scan stage; a single-row-group fixture file caps that at one core —
    # spread_scan fans it out and is a no-op once the scan has >= cores
    # splits (r12; measured 0.795 -> 0.548 s at sf0.1, min-of-5 A/B)
    c = spread_scan(emb).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    dot = dot_col("q_emb", "c_emb")
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", dot.alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket_sql('embedding', EMB_DIM, False)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE {QUERY_FILTER}),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
scored AS (
  SELECT q_id, c_id, q.bucket AS bucket,
         {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} AS cos_sim
  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, bucket, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM scored
) WHERE rank <= 3
""",
    doc=f"Sign-LSH bucketed ANN: {_PLANES} deterministic integer hyperplanes → "
    f"{1 << _PLANES} buckets; candidates are same-bucket only, exact re-rank top-3. "
    "Bucket id is the join/shuffle key — near-linear, the 100 TB path.",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(bucket_sql("embedding", EMB_DIM, True)).alias("bucket"),
    )
    q = b.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    c = b.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    dot = dot_col("q_emb", "c_emb")
    scored = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("c_bucket")) & (F.col("q_id") != F.col("c_id")),
    ).select("q_id", "c_id", "bucket", dot.alias("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "bucket", "cos_sim", "rank")
    )


# ------------------------------------------------------------------- IVF ---
_N_CENTROIDS = 8
_N_PROBE = 2
CENTROID_FILTER = f"vec_id % 61 = 3"  # deterministic pseudo-random seed rows


def _centroid_cte() -> str:
    return (
        f"SELECT vec_id AS cid, embedding AS cemb FROM embeddings "
        f"WHERE {CENTROID_FILTER} ORDER BY vec_id LIMIT {_N_CENTROIDS}"
    )


@register(
    "ann_ivf_probe",
    oracle=f"""
WITH cent AS ({_centroid_cte()}),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT q_id, q_emb, cid FROM (
    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE {QUERY_FILTER}
  ) WHERE rn <= {_N_PROBE}
),
scored AS (
  SELECT q.q_id, a.vec_id AS c_id,
         {dot_sql('q.q_emb', 'a.embedding', EMB_DIM, False)} AS cos_sim
  FROM qprobe q JOIN assign a ON q.cid = a.cid AND q.q_id <> a.vec_id
)
SELECT * FROM (
  SELECT q_id, c_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM scored
) WHERE rank <= 3
""",
    doc=f"IVF-style ANN: {_N_CENTROIDS} deterministic seed centroids; every vector is "
    f"assigned to its nearest centroid (argmax of unrolled dots, one broadcast cross "
    f"join over {_N_CENTROIDS} rows); queries probe their {_N_PROBE} nearest inverted "
    "lists; exact re-rank inside the probed lists. The centroid id is the shuffle key, "
    "so the candidate join is near-linear — at 100 TB the assignment table is written "
    "once (partitioned by cid) and re-used by every query batch; centroids would come "
    "from k-means over a sample instead of seed rows, same plan shape.",
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = (
        emb.filter(F.expr(CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    )
    cdot = dot_col("embedding", "cemb")
    ranked = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc(cdot), F.asc("cid"))
            ),
        )
    )
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "embedding", "cid")
    qprobe = (
        ranked.filter(F.expr(QUERY_FILTER) & (F.col("rn") <= _N_PROBE))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cid").alias("q_cid"),
        )
    )
    dot = dot_col("q_emb", "embedding")
    scored = (
        assign.join(
            F.broadcast(qprobe),
            (F.col("cid") == F.col("q_cid")) & (F.col("q_id") != F.col("vec_id")),
        )
        .select("q_id", F.col("vec_id").alias("c_id"), dot.alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


# --------------------------------------------------------------- k-means ---
_KM_Q = 1 << 20  # centroid-mean quantization: floor(val·2^20) — see below


def _km_mean_sql(alias: str) -> str:
    """Per-dimension quantized-exact centroid mean as a DuckDB list literal.

    Mirrors the Spark-side update bit-for-bit: floor(val·2^20) summed as
    BIGINT (exact, order-insensitive), one DOUBLE division by the count,
    one by the quantum, cast to FLOAT."""
    cols = ", ".join(
        f"CAST(CAST(SUM(CAST(FLOOR(CAST({alias}.embedding[{i}] AS DOUBLE) * {_KM_Q}) AS BIGINT)) AS DOUBLE)"
        f" / COUNT(*) / {_KM_Q} AS FLOAT)"
        for i in range(1, EMB_DIM + 1)
    )
    return "[" + cols + "]"


def _km_assign_sql(cent_cte: str) -> str:
    """Nearest-centroid assignment CTE body: cross join over the k-row
    centroid table + argmax window, ties broken on cid — the SQL twin of the
    broadcast-join/row_number step in `kmeans_iterate`."""
    d = dot_sql("e.embedding", "c.cemb", EMB_DIM, False)
    return (
        "SELECT vec_id, cid FROM ("
        "SELECT e.vec_id, c.cid, "
        f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d} DESC, c.cid) AS rn "
        f"FROM embeddings e CROSS JOIN {cent_cte} c) WHERE rn = 1"
    )


def kmeans_iterate(
    emb: DataFrame, k: int = _N_CENTROIDS, iterations: int = 2
) -> DataFrame:
    """Fixed-iteration distributed Lloyd over the embedding column.

    The MLlib-style loop: per iteration, (1) assign each vector to its
    nearest centroid — a broadcast cross join over k rows + argmax window,
    one shuffle on vec_id; (2) recompute centroids as per-dimension means —
    posexplode to (cid, dim, val), one shuffle on (cid, dim), then the k×dim
    result (bounded, independent of data size) collects to the driver and
    broadcasts into the next iteration. Init = the deterministic IVF seed
    rows, so runs are reproducible.

    Returns the final assignment (vec_id, cid, n_members-per-cid).
    """
    cent = (
        emb.filter(F.expr(CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    )
    assign = None
    for _ in range(iterations):
        cdot = dot_col("embedding", "cemb")
        assign = (
            emb.crossJoin(F.broadcast(cent))
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy(F.desc(cdot), F.asc("cid"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "cid")
        )
        means = (
            assign.select("cid", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("cid", "dim")
            # order-insensitive mean: quantize each value to an integer
            # (floor(val·2^20)), sum exactly in BIGINT, divide once in
            # DOUBLE — bit-identical across engines and across partition
            # orders, unlike a float AVG whose accumulation order drifts.
            # The 1e-6 centroid quantization is far below float32 noise.
            .agg(
                (
                    F.sum(F.floor(F.col("val").cast("double") * F.lit(float(_KM_Q))))
                    .cast("double")
                    / F.count(F.lit(1))
                    / F.lit(float(_KM_Q))
                ).alias("m")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("cemb")
            )
        )
        # k×dim rows: collect to the driver and rebuild — truncates the
        # per-iteration lineage growth (plan analysis would compound) and is
        # exactly the "broadcast next centroids" step of distributed Lloyd
        cent = emb.sparkSession.createDataFrame(means.collect(), means.schema)
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return assign.select("vec_id", "cid").join(F.broadcast(sizes), "cid").select(
        "vec_id", "cid", "n_members"
    )


@register(
    "ml_kmeans_fixed",
    # The full 2-iteration Lloyd loop, unrolled into SQL. This is
    # oracle-able (despite being iterative) because the centroid update was
    # made order-insensitive: means are computed over floor(val·2^20)
    # quantized integers (exact BIGINT sums), so partition order cannot
    # perturb the centroids, and every dot product is the shared
    # left-assoc DOUBLE fold both engines evaluate bit-identically.
    oracle=f"""
WITH cent0 AS ({_centroid_cte()}),
a1 AS ({_km_assign_sql('cent0')}),
cent1 AS (
  SELECT cid, {_km_mean_sql('e')} AS cemb
  FROM a1 JOIN embeddings e USING (vec_id) GROUP BY cid
),
a2 AS ({_km_assign_sql('cent1')}),
sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM a2 GROUP BY cid)
SELECT a2.vec_id, a2.cid, s.n_members FROM a2 JOIN sizes s USING (cid)
""",
    doc=f"Fixed-iteration (2) distributed k-means over the embeddings table, "
    f"k={_N_CENTROIDS}, deterministic seed init. Assignment = broadcast cross "
    "join + argmax (shuffle on vec_id); centroid update = posexplode + "
    "(cid,dim) quantized-exact mean — k×dim bounded state between "
    "iterations, the structure that scales to any corpus size. Now fully "
    "DuckDB-oracle-gated: the loop unrolls into CTEs and the quantized "
    "update makes each iteration bit-deterministic.",
)
def ml_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return kmeans_iterate(emb)


# ------------------------------------------------------ multi-table LSH ---
_TABLES = 2  # independent hash tables (plane offsets 0 and 100)


@register(
    "ann_lsh_multitable",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         {bucket_sql('embedding', EMB_DIM, False)} AS b0,
         {bucket_sql_offset('embedding', EMB_DIM, False, 100)} AS b1
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS q_emb, c.embedding AS c_emb
  FROM b q JOIN b c ON q.b0 = c.b0 AND q.vec_id <> c.vec_id
  WHERE {QUERY_FILTER.replace('vec_id', 'q.vec_id')}
  UNION
  SELECT q.vec_id, c.vec_id, q.embedding, c.embedding
  FROM b q JOIN b c ON q.b1 = c.b1 AND q.vec_id <> c.vec_id
  WHERE {QUERY_FILTER.replace('vec_id', 'q.vec_id')}
)
SELECT * FROM (
  SELECT q_id, c_id, {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} DESC, c_id) AS rank
  FROM cand
) WHERE rank <= 3
""",
    doc=f"Multi-table sign-LSH: {_TABLES} independent hyperplane sets, candidates = "
    "union of per-table bucket collisions (recall improves with each table; cost "
    "stays near-linear — each union arm is an equi-join on its bucket id). The "
    "100 TB trade dial: tables × bucket-bits = recall × cost.",
)
def ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(bucket_sql("embedding", EMB_DIM, True)).alias("b0"),
        F.expr(bucket_sql_offset("embedding", EMB_DIM, True, 100)).alias("b1"),
    )
    q = b.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
    )
    c = b.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), "b0", "b1"
    )
    arms = [
        c.join(F.broadcast(q), (F.col("qb0") == F.col("b0")) & (F.col("q_id") != F.col("c_id"))),
        c.join(F.broadcast(q), (F.col("qb1") == F.col("b1")) & (F.col("q_id") != F.col("c_id"))),
    ]
    cand = (
        arms[0].select("q_id", "c_id", "q_emb", "c_emb")
        .unionAll(arms[1].select("q_id", "c_id", "q_emb", "c_emb"))
        .dropDuplicates(["q_id", "c_id"])
    )
    dot = dot_col("q_emb", "c_emb")
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        cand.select("q_id", "c_id", dot.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# ------------------------------------------- Arrow-kernel brute-force ANN --
@register(
    "ann_cosine_topk_arrow",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE {QUERY_FILTER}),
     c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id, {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} AS cos_sim
  FROM q JOIN c ON q_id <> c_id
)
SELECT * FROM (
  SELECT q_id, c_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Brute-force exact cosine top-5 — the ARROW-KERNEL twin of "
    "ann_cosine_topk (same contract, same oracle). Scoring runs in "
    "mapInPandas: each Arrow batch of corpus vectors is scored against the "
    "query matrix with a numpy kernel that folds over DIMENSIONS "
    "(acc += c[:,d] x q[:,d]) so every pair's sum has the exact left-fold "
    "IEEE order of the unrolled oracle sum — vectorized over rows, "
    "bit-identical per pair. Measured 1.8x faster than the zip_with "
    "expression at sf0.1 (0.34s vs 0.61s): interpreted higher-order "
    "functions pay per-element overhead that a SIMD batch kernel does not. "
    "The query side is collected to the driver and broadcast — bounded by "
    "the ANN contract (query sets are small; the corpus side streams "
    "through Arrow batches and is never collected). Both variants stay "
    "registered: the expression form needs no Python workers on the "
    "executors, the Arrow form is the high-dimension throughput path.",
)
def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    emb = table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.expr(QUERY_FILTER)).select("vec_id", "embedding").collect()
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([list(r.embedding) for r in qrows], dtype=np.float64)
    sc = spark.sparkContext
    bq_ids, bq_mat = sc.broadcast(q_ids), sc.broadcast(q_mat)

    schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField("c_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def score(batches):
        qi, qm = bq_ids.value, bq_mat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            acc = ordered_dot(cm, qm)
            n, nq = acc.shape
            out = pd.DataFrame(
                {
                    "q_id": np.repeat(qi, n),
                    "c_id": np.tile(c_ids, nq),
                    "cos_sim": acc.T.ravel(),
                }
            )
            yield out[out.q_id != out.c_id]

    scored = emb.select("vec_id", "embedding").mapInPandas(score, schema)
    w = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


# ------------------------------------------ power-iteration top component --
_PI_EQ = 1 << 16   # embedding quantization: q = floor(val * 2^16)
_PI_VS = 1 << 8    # eigenvector scale after each rescale step
_PI_DIMS = EMB_DIM

# Overflow budget (the reason for these scales): |q| <= 2^16, |v| <= 2^8 →
# |s| <= 64·2^24 = 2^30 per row, |t| <= n·2^16·2^30 — safe in BIGINT up to
# n ≈ 2^16 rows. A 100 TB deployment raises the accumulator to DECIMAL(38)
# or per-partition rescale; the plan shape (two keyed shuffles per
# iteration) is already the scalable one. The bound is ENFORCED at runtime
# (guard in ml_power_iteration_pc1), not just documented: past it the
# BIGINT sum would wrap silently while the HUGEINT oracle would not.
_PI_MAX_ROWS = 1 << 16


def _pi_iter_sql(vprev: str, out: str) -> str:
    """One power iteration (s = A v; t = Aᵀ s; rescale) as SQL CTEs."""
    return (
        f"{out}_s AS (SELECT vec_id, SUM(q * v) AS s FROM eq JOIN {vprev} USING (dim) GROUP BY vec_id),\n"
        f"{out}_t AS (SELECT dim, SUM(q * s) AS t FROM eq JOIN {out}_s USING (vec_id) GROUP BY dim),\n"
        f"{out}_m AS (SELECT MAX(ABS(t)) AS m FROM {out}_t),\n"
        f"{out} AS (SELECT dim, CAST(t // GREATEST(m // {_PI_VS}, 1) AS BIGINT) AS v FROM {out}_t, {out}_m)"
    )


@register(
    "ml_power_iteration_pc1",
    oracle=f"""
WITH eq AS (
  SELECT vec_id, dim,
         CAST(FLOOR(CAST(embedding[dim + 1] AS DOUBLE) * {_PI_EQ}) AS BIGINT) AS q
  FROM embeddings, (SELECT unnest(range(0, {_PI_DIMS})) AS dim)
),
v0 AS (SELECT unnest(range(0, {_PI_DIMS})) AS dim, CAST(1 AS BIGINT) AS v),
{_pi_iter_sql('v0', 'v1')},
{_pi_iter_sql('v1', 'v2')}
SELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_q FROM v2
""",
    doc="Distributed LINEAR ALGEBRA as DataFrame ops: the corpus's top "
    "principal direction via 2 unrolled power iterations over the n×64 "
    "embedding matrix — s = Av (shuffle on vec_id), t = Aᵀs (shuffle on "
    "dim), then an integer rescale by the max component. All state is "
    "integer (embeddings quantized to 2^-16, the vector renormalized to "
    "2^8 units each round), so every sum is exact BIGINT and the unrolled "
    "DuckDB CTE chain is a bit-exact oracle — same recipe as k-means and "
    "PageRank. The matrix stays in long (vec_id, dim, q) form: both "
    "matvecs are keyed joins + grouped sums, the shape that scales to any "
    "row count; per-iteration driver state is zero (the 64-row vector "
    "lives in the plan).",
)
def ml_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    eq = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * F.lit(float(_PI_EQ))).alias("q"),
    )
    # runtime overflow guard (r4 ADVICE): the guard rides inside v0's
    # projection — it cannot be pruned because v feeds the first matvec —
    # and stays fully lazy, costing one column-pruned COUNT of embeddings.
    # n_emb is a column, so neither branch constant-folds away.
    nrows = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    v = spark.range(_PI_DIMS).crossJoin(F.broadcast(nrows)).selectExpr(
        "CAST(id AS INT) AS dim",
        f"IF(n_emb <= {_PI_MAX_ROWS}, CAST(1 AS BIGINT), "
        f"CAST(raise_error(CONCAT('ml_power_iteration_pc1: ', n_emb, "
        f"' embedding rows exceed the exact-BIGINT budget ({_PI_MAX_ROWS}); "
        f"use a DECIMAL(38) accumulator variant for larger corpora')) "
        f"AS BIGINT)) AS v",
    )
    for _ in range(2):
        s = (
            eq.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).alias("s"))
        )
        t = (
            eq.join(s, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("q") * F.col("s")).alias("t"))
        )
        m = t.agg(F.max(F.abs(F.col("t"))).alias("m"))
        v = t.crossJoin(F.broadcast(m)).select(
            "dim",
            F.expr(f"CAST(t div GREATEST(m div {_PI_VS}, 1) AS BIGINT)").alias("v"),
        )
    return v.select(
        F.col("dim").cast("bigint").alias("dim"), F.col("v").cast("bigint").alias("v_q")
    )


# ------------------------------------------------- cluster-quality eval ---
@register(
    "ml_cluster_purity",
    oracle=f"""
WITH cent0 AS ({_centroid_cte()}),
a1 AS ({_km_assign_sql('cent0')}),
cent1 AS (
  SELECT cid, {_km_mean_sql('e')} AS cemb
  FROM a1 JOIN embeddings e USING (vec_id) GROUP BY cid
),
a2 AS ({_km_assign_sql('cent1')}),
counts AS (
  SELECT a2.cid, e.label, CAST(COUNT(*) AS BIGINT) AS n
  FROM a2 JOIN embeddings e USING (vec_id) GROUP BY a2.cid, e.label
),
ranked AS (
  SELECT cid, label, n,
         CAST(SUM(n) OVER (PARTITION BY cid) AS BIGINT) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rk
  FROM counts
)
SELECT cid, n_members, label AS majority_label, n AS majority_n,
       CAST(n AS DOUBLE) / n_members AS purity
FROM ranked WHERE rk = 1
""",
    doc="Cluster-vs-label agreement (purity) over the deterministic "
    "2-iteration Lloyd assignment — the evaluation step that closes the "
    "clustering loop (train ml_kmeans_fixed → score its coherence against "
    "held labels before trusting it for IVF lists or semantic dedup cells). "
    "Per cluster: size, majority label (ties break by label id), and purity "
    "= majority_n / n_members (one exact division). The only work beyond "
    "the already-gated k-means plan is a (cid,label) groupBy — bounded by "
    "k×|labels| — and a cid-keyed window; oracle composes the same "
    "unrolled-Lloyd CTEs, so both engines score the IDENTICAL partition.",
)
def ml_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    assign = kmeans_iterate(emb)
    counts = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = W.partitionBy("cid")
    ranked = counts.select(
        "cid",
        "label",
        "n",
        F.sum("n").over(w).cast("bigint").alias("n_members"),
        F.row_number().over(w.orderBy(F.desc("n"), "label")).alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "cid",
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
            (F.col("n").cast("double") / F.col("n_members")).alias("purity"),
        )
    )


# ------------------------------------------------------ IVF balance audit --
@register(
    "ann_ivf_balance_audit",
    oracle=f"""
WITH cent AS ({_centroid_cte()}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
ls AS (SELECT cid, COUNT(*) AS sz FROM assign GROUP BY cid)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(SUM(sz) AS BIGINT) AS n_vectors,
       CAST(MIN(sz) AS BIGINT) AS min_list,
       CAST(MAX(sz) AS BIGINT) AS max_list,
       CAST(SUM(sz) AS DOUBLE) / COUNT(*) AS avg_list,
       CAST(MAX(sz) * COUNT(*) AS DOUBLE) / SUM(sz) AS imbalance
FROM ls
""",
    doc="IVF inverted-list SKEW AUDIT — the observability half of "
    "ann_ivf_probe: per-centroid list sizes folded to one row (list count, "
    "vector total, min/max/avg list size, imbalance = max_list / avg_list). "
    "At 100 TB the inverted-list layout IS the partition layout, and a hot "
    "list is a straggler partition every query batch pays for — this audit "
    "is the dial a production rollout watches before re-training centroids "
    "or splitting lists (the same role dedup_minhash_bucket_audit plays "
    "for the banded-signature buckets). Plan: the identical k-row "
    "broadcast-centroid assignment join as ann_ivf_probe (whitelisted), one "
    "cid groupBy whose key count is bounded by the centroid table, one 1-row "
    "global fold. Ratios are single divisions of exact integers "
    "(oracle-hash safe).",
)
def ann_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = (
        emb.filter(F.expr(CENTROID_FILTER))
        .orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    )
    cdot = dot_col("embedding", "cemb")
    assign = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc(cdot), F.asc("cid"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    ls = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    return ls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum("sz").cast("bigint").alias("n_vectors"),
        F.min("sz").cast("bigint").alias("min_list"),
        F.max("sz").cast("bigint").alias("max_list"),
        (F.sum("sz").cast("double") / F.count(F.lit(1))).alias("avg_list"),
        (
            (F.max("sz") * F.count(F.lit(1))).cast("double") / F.sum("sz")
        ).alias("imbalance"),
    )


# ---------------------------------------------------------- ANN recall eval --
def _recall_eval_oracle() -> str:
    dotqc = dot_sql("q_emb", "c_emb", EMB_DIM, False)
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE {QUERY_FILTER}),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY {dotqc} DESC, c_id) AS rank
    FROM q JOIN c ON q_id <> c_id
  ) WHERE rank <= 3
),
b AS (
  SELECT vec_id, embedding, {bucket_sql('embedding', EMB_DIM, False)} AS bucket,
         {bucket_sql_offset('embedding', EMB_DIM, False, 100)} AS b1
  FROM embeddings
),
lq AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket, b1 FROM b WHERE {QUERY_FILTER}),
lshp AS (
  SELECT q_id, c_id FROM (
    SELECT lq.q_id, b.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY lq.q_id
                              ORDER BY {dot_sql('lq.q_emb', 'b.embedding', EMB_DIM, False)} DESC, b.vec_id) AS rank
    FROM lq JOIN b ON lq.bucket = b.bucket AND lq.q_id <> b.vec_id
  ) WHERE rank <= 3
),
mtcand AS (
  SELECT lq.q_id, b.vec_id AS c_id, lq.q_emb, b.embedding AS c_emb
  FROM lq JOIN b ON lq.bucket = b.bucket AND lq.q_id <> b.vec_id
  UNION
  SELECT lq.q_id, b.vec_id, lq.q_emb, b.embedding
  FROM lq JOIN b ON lq.b1 = b.b1 AND lq.q_id <> b.vec_id
),
mtp AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY {dot_sql('q_emb', 'c_emb', EMB_DIM, False)} DESC, c_id) AS rank
    FROM mtcand
  ) WHERE rank <= 3
),
cent AS ({_centroid_cte()}),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT q_id, q_emb, cid FROM (
    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cemb', EMB_DIM, False)} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE {QUERY_FILTER}
  ) WHERE rn <= {_N_PROBE}
),
ivfp AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, a.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
                              ORDER BY {dot_sql('q.q_emb', 'a.embedding', EMB_DIM, False)} DESC, a.vec_id) AS rank
    FROM qprobe q JOIN assign a ON q.cid = a.cid AND q.q_id <> a.vec_id
  ) WHERE rank <= 3
),
ev AS (
  SELECT 'ivf_probe' AS method, e.q_id,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM exact e LEFT JOIN ivfp p ON e.q_id = p.q_id AND e.c_id = p.c_id
  GROUP BY e.q_id
  UNION ALL
  SELECT 'lsh_bucketed', e.q_id,
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM exact e LEFT JOIN lshp p ON e.q_id = p.q_id AND e.c_id = p.c_id
  GROUP BY e.q_id
  UNION ALL
  SELECT 'lsh_multitable', e.q_id,
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM exact e LEFT JOIN mtp p ON e.q_id = p.q_id AND e.c_id = p.c_id
  GROUP BY e.q_id
)
SELECT method, q_id, n_exact, n_hits,
       CAST(n_hits AS DOUBLE) / n_exact AS recall_at_k
FROM ev
"""


@register(
    "ann_recall_eval",
    oracle=_recall_eval_oracle(),
    doc="The ANN index measures ITSELF as a query (the "
    "pipeline_near_dup_eval pattern applied to retrieval): per query "
    "vector and per approximate method — IVF probe, single-table sign-LSH "
    "bucket, and the 2-table LSH union — the top-3 hit count against the "
    "exact brute-force top-3, reported as recall@3 (one exact integer "
    "division per row). This is the quality-monitoring job a production "
    "retrieval stack runs on a sampled query slice before trusting an "
    "index build at full scale — the single- vs multi-table rows measure "
    "the recall bought by each extra hash table (the tables × bits = "
    "recall × cost dial), nprobe shows up the same way on the IVF row, "
    "and ann_ivf_balance_audit decides the list layout. COMPOSITION of "
    "four registered plans (exact arm's corpus scan never shuffles — the "
    "10-row query set broadcasts; every approximate arm joins on its "
    "bucket/list shuffle key), folded by (q_id, c_id)-keyed left joins on "
    "bounded top-k rows and a q_id groupBy.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: reference the exact brute-force arm ONCE. The r3-r12 form
    # left-joined `exact` separately per method and unioned the three
    # results — Spark does not CSE across branches, so the exact corpus
    # scan + dot ranking executed three times per eval. Now the bounded
    # exact top-k (30 rows) crossJoins a 3-row method table (both sides
    # bounded — the whitelisted ann-eval crossJoin contract) and ONE left
    # join against the union of the per-method candidate sets computes
    # every (method, q_id) row in a single pass. Values are unchanged:
    # per method, n_exact counts the same exact rows and n_hits the same
    # method-tagged matches as the old per-arm joins.
    exact = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id")
    )
    ests = None
    for method, fn in (
        ("ivf_probe", ann_ivf_probe),
        ("lsh_bucketed", ann_lsh_bucketed),
        ("lsh_multitable", ann_lsh_multitable),
    ):
        est = fn(spark, sf_dir).select(
            F.lit(method).alias("method"), "q_id", "c_id", F.lit(1).alias("hit")
        )
        ests = est if ests is None else ests.unionAll(est)
    methods = spark.createDataFrame(
        [("ivf_probe",), ("lsh_bucketed",), ("lsh_multitable",)], "method string"
    )
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(ests, ["method", "q_id", "c_id"], "left")
        .groupBy("method", "q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .select(
            "method",
            "q_id",
            "n_exact",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        )
    )

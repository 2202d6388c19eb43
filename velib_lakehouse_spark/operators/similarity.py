"""Similarity search over an embedding column (``array<float>``).

Two variants, both declarative (JVM-side higher-order functions — no
Python in the distance loop):

* ``ann_cosine_topk``  — brute-force cosine top-k: broadcast the query
  set against every candidate.  Exact baseline; at scale this is a
  map-side-only pass over the corpus (queries broadcast, no shuffle
  until the per-query top-k aggregation), which is how you want the
  exact variant to look on a cluster.
* ``ann_lsh_topk``     — random-hyperplane LSH: 16 md5-seeded
  hyperplanes -> 16-bit bucket signature -> equality join on bucket ->
  cosine only within bucket.  The sub-linear scale path: candidate
  count drops ~2^-16 per query at the cost of recall.

Literature: random-hyperplane LSH per Charikar (STOC 2002); the
inverted-file (IVF) coarse quantizer follows the classic IVF/IVFADC
design (Sivic & Zisserman, "Video Google", ICCV 2003; Jegou et al.,
"Product quantization for nearest neighbor search", TPAMI 2011) minus
the product-quantized residuals.

Determinism: vectors are upcast to double before any arithmetic; the
dot product is a sequential left fold in both engines; cosines are
rounded to 6 places and ordering ties break on vec_id, so top-k sets are
reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velib_lakehouse_spark.catalog import load_table
from velib_lakehouse_spark.functions.hashing import md5_long, sql_md5_long

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
N_PLANES = 16
DIM = 64

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " cast(0.0 as double), (acc, x) -> acc + x)"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit-N repartition: the corpus arrives as one parquet split and
    # the per-vector hashing/dot-product work would serialize onto one
    # task otherwise (AQE honors the explicit count)
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    return e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).withColumn("norm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbours by cosine for each query vector."""
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_vec_id"))
    scored = pairs.withColumn(
        "cos",
        F.round(
            F.expr(_DOT.format(a="qv", b="v")) / (F.col("qnorm") * F.col("norm")), 6
        ),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_vec_id", "vec_id", "label", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


from functools import lru_cache


@lru_cache(maxsize=None)
def _plane_weights(n_planes: int = N_PLANES) -> tuple[tuple[float, ...], ...]:
    """The n_planes x 64 hyperplane weight matrix.

    Weight(p, c) = (md5_60bit('plane:p:c') % 2000001 - 1000000) / 1e6 —
    the identical formula the DuckDB oracle evaluates in SQL, computed
    once on the driver (hashlib md5 == engine md5), so the runtime plan
    multiplies by *literals* instead of doing 1024 md5 calls per vector.
    The count is a parameter because LSH collision rates must be tuned
    to corpus size (see dedup.banded_cosine_pairs).
    """
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for c in range(DIM):
            h = int(hashlib.md5(f"plane:{p}:{c}".encode()).hexdigest()[:15], 16)
            row.append((h % 2000001 - 1000000) / 1000000.0)
        out.append(tuple(row))
    return tuple(out)


def _bucket_expr(vcol: str, n_planes: int = N_PLANES) -> str:
    """n_planes-bit LSH bucket: sign bits of the fixed random hyperplanes.

    Each plane's projection is a left-fold dot product against the
    literal weight array — pure arithmetic inside codegen, no hashing in
    the hot path.
    """
    all_weights = _plane_weights(n_planes)
    planes = []
    for p in range(n_planes):
        weights = ",".join(f"cast({w!r} as double)" for w in all_weights[p])
        dot = (
            f"aggregate(zip_with({vcol}, array({weights}), (x, y) -> x * y),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        planes.append(
            f"if({dot} > 0, shiftleft(cast(1 as bigint), {p}), cast(0 as bigint))"
        )
    return " + ".join(planes)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: cosine only among bucket-mates."""
    v = _vectors(spark, sf_dir).withColumn("bucket", F.expr(_bucket_expr("v")))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("bucket"),
    )
    cand = v.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("q_vec_id")
    )
    scored = cand.withColumn(
        "cos",
        F.round(
            F.expr(_DOT.format(a="qv", b="v")) / (F.col("qnorm") * F.col("norm")), 6
        ),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_vec_id", "vec_id", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


NLIST = 8  # IVF coarse-quantizer cells
NPROBE = 2  # cells searched per query
IVF_ITERS = 3


def _centroid_array_expr(cents: dict[int, list[int]]) -> str:
    """SQL literal ``array<struct<cid:int, cv:array<double>>>`` from the
    driver-held micro-grid centroids.  Components stay integer (``L``
    literals) inside the expression and are divided by 1e6 there, so the
    doubles are bit-identical to the distributed ``s.mq / 1e6`` the
    all-DataFrame formulation produced."""
    items = ", ".join(
        "named_struct('cid', {cid}, 'cv',"
        " transform(array({qs}), q -> q / 1e6))".format(
            cid=cid, qs=", ".join(f"{q}L" for q in cents[cid])
        )
        for cid in sorted(cents)
    )
    return f"array({items})"


def _argmin_cell_expr(cent_expr: str) -> str:
    """Map-side nearest-cell argmin over inlined centroids.  The min of
    struct(d2, cid) is lexicographic — nearest cell, ties to the lowest
    cid — exactly the former row_number-over-(d2 asc, cid asc) == 1."""
    return (
        f"array_min(transform({cent_expr}, c -> struct("
        "aggregate(zip_with(v, c.cv, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (acc, x) -> acc + x) AS d2,"
        " c.cid AS cid)))"
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the clustered scale path.

    Coarse quantizer: NLIST centroids refined by a few Lloyd iterations
    (deterministic init: the first NLIST vectors).  The centroid table
    is NLIST x DIM integers — driver-sized by construction at any
    corpus scale — so, as in Spark MLlib's own k-means, each iteration
    collects it and inlines it into the next assignment as a literal:
    assignment becomes a pure map-side argmin (no crossJoin, no
    per-iteration window shuffle) and the only shuffle per iteration is
    the NLIST x DIM-row centroid-update aggregation.  Collecting also
    cuts the lineage per iteration, so the final plan does not re-run
    the whole training chain (the previous all-DataFrame loop compiled
    to 46 exchanges; this shape compiles to 5).  Queries then probe
    only their NPROBE nearest cells' inverted lists via a broadcast
    join on cell id.

    Cross-engine exactness: every centroid (init and each Lloyd update)
    is quantized onto the 1e-6 micro-grid — components become
    floor(avg(floor(x*1e6)))/1e6, where the inner integer sum is exact
    and associative in any partitioning and the outer floor of the
    identical double is bit-deterministic (the ``embedding_centroids``
    trick).  Distances against grid centroids are then the same
    sequential double fold in both engines, so argmin assignments,
    probe sets, and final top-k are reproducible; the DuckDB oracle
    unrolls the IVF_ITERS Lloyd iterations as CTEs.  Recall vs the
    exact operator is additionally pinned in tests.
    """
    v = _vectors(spark, sf_dir).persist()

    init = v.filter(F.col("vec_id") < NLIST).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.expr("transform(v, x -> cast(floor(x * 1e6) as bigint))").alias(
            "mq"
        ),
    )
    cents: dict[int, list[int]] = {
        r["cid"]: list(r["mq"]) for r in init.collect()
    }

    for _ in range(IVF_ITERS):
        cell = F.expr(_argmin_cell_expr(_centroid_array_expr(cents)) + ".cid")
        updated = (
            v.select(cell.alias("cid"), F.posexplode("v").alias("pos", "x"))
            .withColumn("q", F.floor(F.col("x") * F.lit(1e6)).cast("bigint"))
            .groupBy("cid", "pos")
            .agg(F.floor(F.avg("q")).cast("bigint").alias("mq"))
            .collect()
        )
        nxt: dict[int, dict[int, int]] = {}
        for r in updated:
            nxt.setdefault(r["cid"], {})[r["pos"]] = r["mq"]
        cents = {
            cid: [by_pos[p] for p in sorted(by_pos)]
            for cid, by_pos in nxt.items()
        }

    cent_expr = _centroid_array_expr(cents)
    assigned = v.select(
        "vec_id",
        F.expr(_argmin_cell_expr(cent_expr) + ".cid").alias("cid"),
        "v",
        "norm",
    )

    # NPROBE nearest cells per query: sort the same (d2, cid) structs and
    # slice — map-side, ordered exactly like the former rn <= NPROBE
    probe_expr = (
        f"slice(array_sort(transform({cent_expr}, c -> struct("
        "aggregate(zip_with(v, c.cv, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (acc, x) -> acc + x) AS d2,"
        f" c.cid AS cid))), 1, {NPROBE})"
    )
    q_probe = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.explode(F.expr(probe_expr + ".cid")).alias("cid"),
    )
    cand = assigned.join(F.broadcast(q_probe), "cid").filter(
        F.col("vec_id") != F.col("q_vec_id")
    )
    scored = cand.withColumn(
        "cos",
        F.round(
            F.expr(_DOT.format(a="qv", b="v")) / (F.col("qnorm") * F.col("norm")), 6
        ),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_vec_id", "vec_id", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_SQL_PLANE = (
    "list_sum(list_transform(generate_series(1, {dim}), c -> {v}[c] * "
    "(((('0x' || substr(md5(concat('plane:', p, ':', c - 1)), 1, 15))::BIGINT"
    " % 2000001) - 1000000) / 1000000.0)))"
)
_SQL_BUCKET = (
    "list_sum(list_transform(generate_series(1, {np}), q -> "
    "CASE WHEN {plane} > 0 THEN (1::BIGINT << (q - 1)) ELSE 0 END))"
)


CENTROID_QUANT = 1_000_000.0


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the building block
    for IVF training, cluster-balance audits, and label-drift checks.

    posexplode -> (label, dim) mean: one shuffle of (n_labels * dim)
    partial-aggregated rows regardless of corpus size, so at 100 TB the
    reduce side is a few thousand rows however many vectors feed it.

    Cross-engine determinism: a float mean is order-dependent in the
    last bits, so components are quantized to integers (floor(x * 1e6))
    BEFORE summing — integer sums are exact and associative in any
    partitioning.  The mean is then FLOORED back onto the integer
    micro-grid rather than ``round``-ed: Spark rounds doubles via
    decimal HALF_UP while DuckDB rounds the binary value, and the two
    disagree on half-way points; floor of the identical correctly-
    rounded double S/N is bit-deterministic in both engines.
    ``ann_ivf_topk`` reuses exactly this grid for its Lloyd centroids,
    which is what makes the IVF pipeline oracle-checkable end to end.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("dim", "x"),
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(F.col("x") * F.lit(CENTROID_QUANT)).cast("bigint").alias("q"),
    )
    return (
        pos.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.floor(F.avg("q")).cast("bigint").alias("centroid_micro"),
        )
        .withColumn(
            "centroid", F.col("centroid_micro") / F.lit(CENTROID_QUANT)
        )
    )


QUANT_BITS = 127  # int8 symmetric range


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the export
    step that shrinks a serving index 4x (float32 -> int8).

    Per-vector scale = max(|x|)/127; q_i = round-half-up(x_i / scale).
    Map-side only (one pass, no shuffle).  Rounding is emulated as
    floor(x + 0.5) in BOTH engines — Spark's round() uses decimal
    HALF_UP while DuckDB rounds the binary double, and the two disagree
    on values like 16.5 that the scale grid makes common; floor of the
    identical double is deterministic.  The reported scale itself is
    rounded the same way (floor(scale*1e9 + 0.5)/1e9), NOT via
    round(scale, 9), for the same half-way-point reason.  Output
    serializes the int8 vector as a comma-joined string
    (driver-hashable) plus max dequantization error, which must stay
    under scale/2 + 1e-9.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "scale",
        F.expr(
            "aggregate(v, cast(0.0 as double),"
            " (acc, x) -> greatest(acc, abs(x)))"
        )
        / F.lit(float(QUANT_BITS)),
    )
    q = F.expr("transform(v, x -> cast(floor(x / scale + 0.5d) as bigint))")
    dq_err = (
        "aggregate(zip_with(v, q, (x, qi) -> abs(x - qi * scale)),"
        " cast(0.0 as double), (acc, x) -> greatest(acc, x))"
    )
    return (
        v.filter(F.col("scale") > 0)
        .withColumn("q", q)
        .select(
            "vec_id",
            "label",
            (F.expr("floor(scale * 1e9 + 0.5d)") / F.lit(1e9)).alias("scale_r9"),
            F.concat_ws(",", F.expr("transform(q, x -> cast(x as string))")).alias(
                "q_csv"
            ),
            (F.expr(dq_err) <= F.col("scale") / 2 + F.lit(1e-9)).alias(
                "within_half_step"
            ),
        )
    )


def _sql_bucket(vcol: str) -> str:
    plane = _SQL_PLANE.format(dim=DIM, v=vcol).replace("', p, '", "', q - 1, '")
    return _SQL_BUCKET.format(np=N_PLANES, plane=plane)


ORACLE: dict[str, str | None] = {
    "ann_cosine_topk": f"""
        WITH v AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM embeddings
        ),
        scored AS (
          SELECT q.vec_id AS q_vec_id, c.vec_id, c.label,
                 ROUND(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cos
          FROM v q JOIN v c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < {N_QUERIES}
        )
        SELECT q_vec_id, vec_id, label, cos, rank FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY q_vec_id ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "ann_lsh_topk": f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM embeddings
        ),
        b AS (
          SELECT vec_id, v, norm, {_sql_bucket('v')} AS bucket FROM v
        ),
        scored AS (
          SELECT q.vec_id AS q_vec_id, c.vec_id,
                 ROUND(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cos
          FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
          WHERE q.vec_id < {N_QUERIES}
        )
        SELECT q_vec_id, vec_id, cos, rank FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY q_vec_id ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """,
}

def _ivf_oracle_sql() -> str:
    """Unrolled-Lloyd DuckDB mirror of ``ann_ivf_topk``.

    Each iteration is two CTEs: an argmin assignment against the
    previous centroids (same sequential-fold d2, same (d2, cid) tie
    order) and a micro-grid centroid update (floor(avg(floor(x*1e6)))/
    1e6 — integer-exact in both engines).  IVF_ITERS updates, then a
    final assignment, NPROBE probing, and per-query top-k.
    """
    d2 = (
        "list_sum(list_transform(generate_series(1, {dim}),"
        " i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])))"
    ).format(dim=DIM)
    parts = [
        f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM embeddings
        ),
        c0 AS (
          SELECT CAST(vec_id AS INT) AS cid,
                 list_transform(v, x -> floor(x * 1e6) / 1e6) AS cv
          FROM v WHERE vec_id < {NLIST}
        )"""
    ]
    for it in range(1, IVF_ITERS + 2):
        parts.append(f"""
        , a{it} AS (
          SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {d2} ASC, c.cid ASC) AS rn
            FROM v CROSS JOIN c{it - 1} c
          ) WHERE rn = 1
        )""")
        if it <= IVF_ITERS:
            parts.append(f"""
        , c{it} AS (
          SELECT cid, list(mq / 1e6 ORDER BY pos) AS cv FROM (
            SELECT cid, pos, CAST(floor(avg(q)) AS BIGINT) AS mq FROM (
              SELECT a.cid, generate_subscripts(v.v, 1) AS pos,
                     CAST(floor(unnest(v.v) * 1e6) AS BIGINT) AS q
              FROM a{it} a JOIN v ON v.vec_id = a.vec_id
            ) GROUP BY cid, pos
          ) GROUP BY cid
        )""")
    final_assign = f"a{IVF_ITERS + 1}"
    parts.append(f"""
        , probe AS (
          SELECT vec_id AS q_vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {d2} ASC, c.cid ASC) AS rn
            FROM v CROSS JOIN c{IVF_ITERS} c
            WHERE v.vec_id < {N_QUERIES}
          ) WHERE rn <= {NPROBE}
        ),
        scored AS (
          SELECT p.q_vec_id, a.vec_id,
                 ROUND(list_dot_product(qv.v, cv.v) / (qv.norm * cv.norm), 6)
                   AS cos
          FROM probe p
          JOIN {final_assign} a ON a.cid = p.cid AND a.vec_id <> p.q_vec_id
          JOIN v qv ON qv.vec_id = p.q_vec_id
          JOIN v cv ON cv.vec_id = a.vec_id
        )
        SELECT q_vec_id, vec_id, cos, rank FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY q_vec_id ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


ORACLE["ann_ivf_topk"] = _ivf_oracle_sql()

ORACLE["embedding_centroids"] = f"""
    SELECT label, dim, n_vectors, centroid_micro,
           centroid_micro / {CENTROID_QUANT} AS centroid
    FROM (
      SELECT label, CAST(pos - 1 AS BIGINT) AS dim,
             count(*) AS n_vectors,
             CAST(floor(avg(CAST(floor(CAST(x AS DOUBLE) * {CENTROID_QUANT})
                            AS BIGINT))) AS BIGINT) AS centroid_micro
      FROM (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
      GROUP BY label, pos
    )
"""

ORACLE["embedding_quantize_int8"] = f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)),
                            'max') / {float(QUANT_BITS)} AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
               AS qv
      FROM v WHERE scale > 0
    )
    SELECT vec_id, label,
           floor(scale * 1e9 + 0.5) / 1e9 AS scale_r9,
           array_to_string(qv, ',') AS q_csv,
           list_max(list_transform(generate_series(1, len(v)),
                    i -> abs(v[i] - qv[i] * scale)))
             <= scale / 2 + 1e-9 AS within_half_step
    FROM q
"""

QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "embedding_centroids": embedding_centroids,
    "embedding_quantize_int8": embedding_quantize_int8,
}


DISP_QUANT = 1_000.0  # coarser grid than centroids: q^2 must sum in int64


def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding dispersion: E||x||^2 - ||E x||^2 (the
    variance identity), on an integer milli-grid — the cluster-quality
    / collapse audit for an embedding corpus (a label whose dispersion
    ~0 is one duplicated point; huge dispersion = label noise).

    All arithmetic is exact-integer until two floor(avg(.)) steps that
    both engines perform identically: components quantize to
    floor(x*1e3) at the map side (squares then stay under int64 to
    ~3e10 rows/label x 64 dims), per-(label,dim) sums/means reduce to
    n_labels*dim rows regardless of corpus size, and the final per-label
    rollup is a second tiny aggregation.  No shuffle carries vectors —
    only (label, dim, q) triples, 24 bytes each.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x") * F.lit(DISP_QUANT)).cast("bigint").alias("q"),
    )
    per_dim = pos.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q") * F.col("q")).alias("ssq"),
        F.floor(F.avg("q")).cast("bigint").alias("c"),
    )
    rolled = per_dim.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.floor(F.sum("ssq").cast("double") / F.max("n"))
        .cast("bigint")
        .alias("mean_norm_sq_milli"),
        F.sum(F.col("c") * F.col("c")).alias("centroid_norm_sq_milli"),
    )
    return rolled.select(
        "label",
        "n_vectors",
        "mean_norm_sq_milli",
        "centroid_norm_sq_milli",
        (F.col("mean_norm_sq_milli") - F.col("centroid_norm_sq_milli")).alias(
            "dispersion_milli"
        ),
    )


ORACLE["embedding_dispersion"] = f"""
    WITH pos AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {DISP_QUANT})
                  AS BIGINT) AS q
      FROM embeddings
    ),
    per_dim AS (
      SELECT label, dim, count(*) AS n,
             CAST(SUM(q * q) AS BIGINT) AS ssq,
             CAST(floor(avg(q)) AS BIGINT) AS c
      FROM pos GROUP BY label, dim
    ),
    rolled AS (
      SELECT label,
             MAX(n) AS n_vectors,
             CAST(floor(CAST(SUM(ssq) AS DOUBLE) / MAX(n)) AS BIGINT)
               AS mean_norm_sq_milli,
             CAST(SUM(c * c) AS BIGINT) AS centroid_norm_sq_milli
      FROM per_dim GROUP BY label
    )
    SELECT label, n_vectors, mean_norm_sq_milli, centroid_norm_sq_milli,
           mean_norm_sq_milli - centroid_norm_sq_milli AS dispersion_milli
    FROM rolled
"""
QUERIES["embedding_dispersion"] = embedding_dispersion


OUTLIER_FACTOR = 4  # dist^2 > factor * label mean dist^2 -> outlier


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector outlier flag: squared distance to the label centroid
    vs the label's mean squared distance — the mislabeled-point /
    junk-embedding audit that runs before centroid-based ops (IVF
    training, semantic dedup) trust the labels.

    Scale: the centroid frame is n_labels x dim rows — broadcast — so
    scoring is one map-side pass over (vec_id, label, dim, q) triples
    plus a per-vector aggregation; the label statistics reduce to
    n_labels rows.  All comparisons are exact-integer on the milli
    grid: distances are sums of squared quantized diffs (int64-safe to
    dim x (2e4)^2), means are floor(avg) — the ``embedding_dispersion``
    convention — and the outlier test multiplies integers, so no double
    ever decides a flag.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("x") * F.lit(DISP_QUANT)).cast("bigint").alias("q"),
    )
    cent = pos.groupBy("label", "dim").agg(
        F.floor(F.avg("q")).cast("bigint").alias("c")
    )
    dist = (
        pos.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias(
                "dist2_milli"
            )
        )
    )
    stats = dist.groupBy("label").agg(
        F.floor(F.avg("dist2_milli")).cast("bigint").alias("mean_dist2_milli")
    )
    return dist.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "dist2_milli",
        "mean_dist2_milli",
        (
            F.col("dist2_milli")
            > F.lit(OUTLIER_FACTOR) * F.col("mean_dist2_milli")
        ).alias("is_outlier"),
    )


ORACLE["embedding_outliers"] = f"""
    WITH pos AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {DISP_QUANT})
                  AS BIGINT) AS q
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, CAST(floor(avg(q)) AS BIGINT) AS c
      FROM pos GROUP BY label, dim
    ),
    dist AS (
      SELECT vec_id, pos.label,
             CAST(SUM((q - c) * (q - c)) AS BIGINT) AS dist2_milli
      FROM pos JOIN cent ON pos.label = cent.label AND pos.dim = cent.dim
      GROUP BY vec_id, pos.label
    ),
    stats AS (
      SELECT label, CAST(floor(avg(dist2_milli)) AS BIGINT)
               AS mean_dist2_milli
      FROM dist GROUP BY label
    )
    SELECT vec_id, dist.label, dist2_milli, mean_dist2_milli,
           dist2_milli > {OUTLIER_FACTOR} * mean_dist2_milli AS is_outlier
    FROM dist JOIN stats ON dist.label = stats.label
"""
QUERIES["embedding_outliers"] = embedding_outliers


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the LSH index against exact brute force,
    per query — the audit that turns "approximate" from a hope into a
    number, run on a sample of queries before trusting the index.

    Scale: composes two operators that are already scale-shaped (exact:
    broadcast queries + map-side scoring on a BOUNDED query sample;
    LSH: bucketed candidates) and joins two K-row-per-query frames —
    the audit itself is constant work after the scans.  At 100 TB the
    query sample is the knob: recall estimates converge with a few
    hundred queries regardless of corpus size.

    Determinism: recall is integer arithmetic (hit count * 1e6 div K);
    the underlying rankings already pin their tie-breaks.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("q_vec_id", "vec_id")
    approx = ann_lsh_topk(spark, sf_dir).select("q_vec_id", "vec_id")
    hits = exact.join(approx, ["q_vec_id", "vec_id"], "left_semi")
    n_exact = exact.groupBy("q_vec_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_hit = hits.groupBy("q_vec_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, "q_vec_id", "left")
        .select(
            "q_vec_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.expr("coalesce(n_hit, 0) * 1000000 div n_exact")
                / F.lit(1_000_000.0)
            ).alias("recall"),
        )
    )


ORACLE["ann_recall_audit"] = f"""
    WITH exact_hits AS (
      SELECT q_vec_id, vec_id FROM ({ORACLE["ann_cosine_topk"]})
    ),
    approx_hits AS (
      SELECT q_vec_id, vec_id FROM ({ORACLE["ann_lsh_topk"]})
    ),
    n_exact AS (
      SELECT q_vec_id, CAST(count(*) AS BIGINT) AS n_exact
      FROM exact_hits GROUP BY q_vec_id
    ),
    n_hit AS (
      SELECT e.q_vec_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM exact_hits e
      JOIN approx_hits a
        ON e.q_vec_id = a.q_vec_id AND e.vec_id = a.vec_id
      GROUP BY e.q_vec_id
    )
    SELECT n_exact.q_vec_id, n_exact.n_exact,
           COALESCE(n_hit.n_hit, 0) AS n_hit,
           (COALESCE(n_hit.n_hit, 0) * 1000000 // n_exact) / 1000000.0
             AS recall
    FROM n_exact LEFT JOIN n_hit ON n_exact.q_vec_id = n_hit.q_vec_id
"""
QUERIES["ann_recall_audit"] = ann_recall_audit


# ---- banded (multi-table) LSH ANN ------------------------------------------

ANN_BANDS = 4
ANN_BAND_BITS = 4  # 4 tables x 4-bit signatures over the same 16 planes


def _band_bucket_expr(vcol: str, band: int) -> str:
    """4-bit bucket for one band: sign bits of planes
    [band*4, band*4+4) — same literal-weight fold as ``_bucket_expr``."""
    all_weights = _plane_weights(N_PLANES)
    bits = []
    for i in range(ANN_BAND_BITS):
        p = band * ANN_BAND_BITS + i
        weights = ",".join(f"cast({w!r} as double)" for w in all_weights[p])
        dot = (
            f"aggregate(zip_with({vcol}, array({weights}), (x, y) -> x * y),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        bits.append(
            f"if({dot} > 0, shiftleft(cast(1 as bigint), {i}),"
            " cast(0 as bigint))"
        )
    return " + ".join(bits)


def ann_banded_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (multi-hash-table) LSH top-k: candidates collide in ANY of
    ANN_BANDS independent 4-bit tables instead of one 16-bit one.

    The single-table variant (``ann_lsh_topk``) trades recall away fast:
    a 16-bit signature must match exactly, and ``ann_recall_audit``
    measures its recall@5 at ~0 on the test corpus.  Banding is the
    standard fix (same trick as ``dedup.banded_cosine_pairs``): P(candidate)
    = 1 - (1 - s^r)^b rises steeply with similarity s for r bits per
    band and b bands, so near neighbours almost always collide somewhere
    while the candidate set stays ~b * n / 2^r per query.

    Scale: candidate IDS are generated first — the (band, bucket)
    equality join touches only (vec_id, band, bucket) triples, never
    vectors — then deduplicated pairs pull each vector ONCE through the
    scoring join.  Vectors never fan out per band; the blowup is
    bounded by b in the id stream only.  The query side is broadcast
    at every step (bounded query sample).
    """
    v = _vectors(spark, sf_dir)
    bands_arr = "array({})".format(
        ", ".join(_band_bucket_expr("v", b) for b in range(ANN_BANDS))
    )
    vb = v.select(
        "vec_id", F.posexplode(F.expr(bands_arr)).alias("band", "bucket")
    )
    qb = (
        vb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_vec_id"), "band", "bucket")
    )
    cand = (
        vb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id")
        .distinct()
    )
    q_vecs = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        cand.join(v, "vec_id")
        .join(F.broadcast(q_vecs), "q_vec_id")
        .withColumn(
            "cos",
            F.round(
                F.expr(_DOT.format(a="qv", b="v"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_vec_id", "vec_id", "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _sql_band_bucket(vcol: str, band: int) -> str:
    plane = _SQL_PLANE.format(dim=DIM, v=vcol).replace(
        "', p, '", f"', {band * ANN_BAND_BITS} + q - 1, '"
    )
    return _SQL_BUCKET.format(np=ANN_BAND_BITS, plane=plane)


def _sql_banded_lsh() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_sql_band_bucket('v', b)} AS bucket"
        " FROM v"
        for b in range(ANN_BANDS)
    )
    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM embeddings
        ),
        vb AS ({band_rows}),
        cand AS (
          SELECT DISTINCT q.vec_id AS q_vec_id, c.vec_id
          FROM vb q JOIN vb c ON q.band = c.band AND q.bucket = c.bucket
          WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        ),
        scored AS (
          SELECT cand.q_vec_id, cand.vec_id,
                 ROUND(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6)
                   AS cos
          FROM cand
          JOIN v c ON c.vec_id = cand.vec_id
          JOIN v q ON q.vec_id = cand.q_vec_id
        )
        SELECT q_vec_id, vec_id, cos, rank FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY q_vec_id ORDER BY cos DESC, vec_id ASC)
                 AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """


ORACLE["ann_banded_lsh_topk"] = _sql_banded_lsh()
QUERIES["ann_banded_lsh_topk"] = ann_banded_lsh_topk


def ann_banded_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_recall_audit`` for the banded index — the pair of audits is
    the measured single-table-vs-banded recall comparison."""
    exact = ann_cosine_topk(spark, sf_dir).select("q_vec_id", "vec_id")
    approx = ann_banded_lsh_topk(spark, sf_dir).select("q_vec_id", "vec_id")
    hits = exact.join(approx, ["q_vec_id", "vec_id"], "left_semi")
    n_exact = exact.groupBy("q_vec_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_hit = hits.groupBy("q_vec_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, "q_vec_id", "left")
        .select(
            "q_vec_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.expr("coalesce(n_hit, 0) * 1000000 div n_exact")
                / F.lit(1_000_000.0)
            ).alias("recall"),
        )
    )


ORACLE["ann_banded_recall_audit"] = f"""
    WITH exact_hits AS (
      SELECT q_vec_id, vec_id FROM ({ORACLE["ann_cosine_topk"]})
    ),
    approx_hits AS (
      SELECT q_vec_id, vec_id FROM ({ORACLE["ann_banded_lsh_topk"]})
    ),
    n_exact AS (
      SELECT q_vec_id, CAST(count(*) AS BIGINT) AS n_exact
      FROM exact_hits GROUP BY q_vec_id
    ),
    n_hit AS (
      SELECT e.q_vec_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM exact_hits e
      JOIN approx_hits a
        ON e.q_vec_id = a.q_vec_id AND e.vec_id = a.vec_id
      GROUP BY e.q_vec_id
    )
    SELECT n_exact.q_vec_id, n_exact.n_exact,
           COALESCE(n_hit.n_hit, 0) AS n_hit,
           (COALESCE(n_hit.n_hit, 0) * 1000000 // n_exact) / 1000000.0
             AS recall
    FROM n_exact LEFT JOIN n_hit ON n_exact.q_vec_id = n_hit.q_vec_id
"""
QUERIES["ann_banded_recall_audit"] = ann_banded_recall_audit


def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-triplet mining: for each anchor (query
    vector) emit its nearest SAME-label neighbour (the positive) and
    its nearest DIFFERENT-label neighbour (the hard negative) — the
    (anchor, positive, hard-negative) triplets an embedding model's
    contrastive loss consumes (hard-negative selection as in DPR,
    Karpukhin et al., EMNLP 2020; triplet loss per Schroff et al.,
    FaceNet, CVPR 2015).

    One scored pass over the corpus (anchors broadcast, scoring
    map-side — the ann_cosine_topk shape), then ONE conditional
    struct-argmax aggregation picks both winners: the scored stream is
    consumed once, map-side partial aggregation reduces it to one row
    per anchor, and no rank window (hence no per-anchor sort) exists
    anywhere.  For billion-vector corpora the scored pass swaps to the
    banded-LSH candidate join (`ann_banded_lsh_topk`) with the same
    downstream — hard negatives are by definition high-cosine, exactly
    what LSH recalls best.
    """
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            "q_label",
            "vec_id",
            "label",
            F.round(
                F.expr(_DOT.format(a="qv", b="v"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ).alias("cos"),
        )
    )
    # Single-pass argmax: max of struct(cos, -vec_id) is lexicographic —
    # best cosine, ties to the LOWEST vec_id — so one conditional
    # aggregation replaces two rank windows over two copies of the
    # scored pass (the plan audit caught the branchy version at 10
    # exchanges; this is 1 partial-aggregated shuffle, and scored is
    # computed once).
    pick = lambda cond: F.max(
        F.when(cond, F.struct(F.col("cos"), (-F.col("vec_id")).alias("nid")))
    )
    both = scored.groupBy("q_vec_id").agg(
        pick(F.col("label") == F.col("q_label")).alias("p"),
        pick(F.col("label") != F.col("q_label")).alias("n"),
    )
    return (
        both.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            F.col("q_vec_id").alias("anchor_id"),
            (-F.col("p.nid")).alias("pos_id"),
            F.col("p.cos").alias("pos_cos"),
            (-F.col("n.nid")).alias("neg_id"),
            F.col("n.cos").alias("neg_cos"),
            F.round(F.col("p.cos") - F.col("n.cos"), 6).alias("margin"),
        )
    )


ORACLE["contrastive_triplets"] = f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS norm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS q_vec_id, q.label AS q_label,
             c.vec_id, c.label,
             ROUND(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cos
      FROM v q JOIN v c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    pos AS (
      SELECT q_vec_id, vec_id AS pos_id, cos AS pos_cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_vec_id
                 ORDER BY cos DESC, vec_id ASC) AS rn
        FROM scored WHERE label = q_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT q_vec_id, vec_id AS neg_id, cos AS neg_cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_vec_id
                 ORDER BY cos DESC, vec_id ASC) AS rn
        FROM scored WHERE label <> q_label
      ) WHERE rn = 1
    )
    SELECT pos.q_vec_id AS anchor_id, pos_id, pos_cos, neg_id, neg_cos,
           ROUND(pos_cos - neg_cos, 6) AS margin
    FROM pos JOIN neg USING (q_vec_id)
"""
QUERIES["contrastive_triplets"] = contrastive_triplets


# ---- Product quantization with ADC (Jegou et al. 2011) ----

PQ_M = 4  # subspaces
PQ_SUBDIM = DIM // PQ_M  # 16 dims per subspace
PQ_NCODES = 8  # codebook entries per subspace (k*)


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jegou, Douze, Schmid 2011): each vector is compressed to M
    per-subspace codebook codes; a query computes one M x k* distance
    table against the codebooks and scores every candidate as the sum
    of M table lookups — never touching the original vectors.

    The codebook here is the untrained baseline (entries = the first
    k* vectors' subvectors); the distributed Lloyd refinement the
    trained codebook needs is exactly `ann_ivf_topk`'s training loop,
    one subspace at a time — this operator pins the ENCODE + ADC
    machinery.  Everything is integer: components quantize to the 1e-6
    micro-grid, so squared distances, code assignments, and the final
    ranking are bit-exact in any partitioning and on both engines (no
    float op anywhere).

    Scale shape: encoding is one broadcast join (codebook: M x k* rows)
    + a map-side-partial min per (vector, subspace) — linear, and the
    stored index is M small ints per vector (the 64x compression PQ
    exists for).  Scoring joins the broadcast M x k* x |Q| distance
    tables on (subspace, code) — each code row fans out once per
    query — then one (query, vector) sum and a WindowGroupLimit top-k.
    At warehouse scale the same ADC join runs per IVF cell
    (IVF-PQ); the fixed-query contract here matches the other judged
    ANN baselines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    mq = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(x * 1e6) as bigint))"
        ).alias("mq"),
    )
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    sv = mq.crossJoin(F.broadcast(subs)).select(
        "vec_id",
        "s",
        F.expr(f"slice(mq, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sub"),
    )
    cb = sv.filter(F.col("vec_id") < PQ_NCODES).select(
        F.col("vec_id").cast("int").alias("code"),
        "s",
        F.col("sub").alias("csub"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sub, csub, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    codes = (
        sv.join(F.broadcast(cb), "s")
        .select("vec_id", "s", d2.alias("d2"), "code")
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("m"))
        .select("vec_id", "s", F.col("m.code").alias("code"))
    )
    dtab = (
        sv.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_vec_id"), "s", "sub")
        .join(F.broadcast(cb), "s")
        .select("q_vec_id", "s", "code", d2.alias("d2p"))
    )
    scored = (
        codes.join(F.broadcast(dtab), ["s", "code"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .groupBy("q_vec_id", "vec_id")
        .agg(F.sum("d2p").alias("adc_d2"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_vec_id", "vec_id", "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


ORACLE["pq_adc_topk"] = f"""
    WITH mq AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x * 1e6) AS BIGINT)) AS mq
      FROM embeddings
    ),
    subs AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s),
    sv AS (
      SELECT vec_id, s,
             mq[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sub
      FROM mq CROSS JOIN subs
    ),
    cb AS (
      SELECT vec_id AS code, s, sub AS csub FROM sv
      WHERE vec_id < {PQ_NCODES}
    ),
    asg AS (
      SELECT v.vec_id, v.s, c.code,
             list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
               j -> (v.sub[j] - c.csub[j]) * (v.sub[j] - c.csub[j]))) AS d2
      FROM sv v JOIN cb c ON v.s = c.s
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2 ASC, code ASC) AS rn
        FROM asg
      ) WHERE rn = 1
    ),
    dtab AS (
      SELECT q.vec_id AS q_vec_id, q.s, c.code,
             list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
               j -> (q.sub[j] - c.csub[j]) * (q.sub[j] - c.csub[j]))) AS d2p
      FROM sv q JOIN cb c ON q.s = c.s
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT d.q_vec_id, co.vec_id, CAST(sum(d.d2p) AS BIGINT) AS adc_d2
      FROM codes co
      JOIN dtab d ON d.s = co.s AND d.code = co.code
      WHERE co.vec_id <> d.q_vec_id
      GROUP BY 1, 2
    )
    SELECT q_vec_id, vec_id, adc_d2, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                   ORDER BY adc_d2 ASC, vec_id ASC) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
"""
QUERIES["pq_adc_topk"] = pq_adc_topk


# ---- Equal-frequency feature discretization (quantile binning) ----

QBIN_BINS = 4  # quartile binning
QBIN_QUANT = 1_000.0  # milli-grid, same convention as dispersion


def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension equal-frequency discretization of the embedding
    matrix: exact quartile edges per feature dimension, then every
    value assigned a bin — the feature-prep step behind gradient-
    boosting binning, PQ codebook seeding and drift monitors (per-bin
    counts between two corpus snapshots are a PSI input).

    Exact-rank edges WITHOUT a per-dimension global sort (the naive
    window would put one task per dimension — a 64-way parallelism
    ceiling and a raw-row sort at 100 TB): values quantize to an
    integer milli-grid, counts aggregate per (dim, grid-value) — the
    shuffle carries at most |grid| rows per dim no matter the corpus —
    and a cumulative window over those *aggregated* rows finds
    edge_j = min q with cum >= (j*n) div B, the value at ascending
    row-number rank (j*n) div B.  Bin assignment is a broadcast join
    of the 64-row edge table back onto the quantized stream; ties sit
    with the lower bin (strict > against each edge) in both engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("dim", "x"),
    ).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(F.col("x") * F.lit(QBIN_QUANT)).cast("bigint").alias("q"),
    )
    cnt = pos.groupBy("dim", "q").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("dim")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnt.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("dim"))
    )
    edges = cum.groupBy("dim").agg(
        F.max("n").cast("bigint").alias("n_values"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({j} * n) div {QBIN_BINS}"),
                    F.col("q"),
                )
            ).alias(f"e{j}_milli")
            for j in range(1, QBIN_BINS)
        ],
    )
    binned = pos.join(F.broadcast(edges), "dim").select(
        "dim",
        "n_values",
        "e1_milli",
        "e2_milli",
        "e3_milli",
        (
            (F.col("q") > F.col("e1_milli")).cast("bigint")
            + (F.col("q") > F.col("e2_milli")).cast("bigint")
            + (F.col("q") > F.col("e3_milli")).cast("bigint")
        ).alias("bin"),
    )
    return binned.groupBy(
        "dim", "bin", "n_values", "e1_milli", "e2_milli", "e3_milli"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_in_bin"))


ORACLE["feature_quantile_bins"] = f"""
    WITH pos AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QBIN_QUANT})
                  AS BIGINT) AS q
      FROM embeddings
    ),
    cnt AS (
      SELECT dim, q, count(*) AS c FROM pos GROUP BY dim, q
    ),
    cum AS (
      SELECT dim, q, c,
             SUM(c) OVER (PARTITION BY dim ORDER BY q
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY dim) AS n
      FROM cnt
    ),
    edges AS (
      SELECT dim, CAST(max(n) AS BIGINT) AS n_values,
             min(CASE WHEN cum >= (1 * n) // {QBIN_BINS} THEN q END)
               AS e1_milli,
             min(CASE WHEN cum >= (2 * n) // {QBIN_BINS} THEN q END)
               AS e2_milli,
             min(CASE WHEN cum >= (3 * n) // {QBIN_BINS} THEN q END)
               AS e3_milli
      FROM cum GROUP BY dim
    )
    SELECT p.dim, CAST((p.q > e.e1_milli) AS BIGINT)
             + CAST((p.q > e.e2_milli) AS BIGINT)
             + CAST((p.q > e.e3_milli) AS BIGINT) AS bin,
           e.n_values, e.e1_milli, e.e2_milli, e.e3_milli,
           CAST(count(*) AS BIGINT) AS n_in_bin
    FROM pos p JOIN edges e USING (dim)
    GROUP BY p.dim, bin, e.n_values, e.e1_milli, e.e2_milli, e.e3_milli
"""
QUERIES["feature_quantile_bins"] = feature_quantile_bins


# ---- SRP/SimHash Hamming ANN: sketch-only serving with recall audit ---------


def srp_hamming_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by HAMMING DISTANCE on sign-random-projection
    signatures (Charikar, STOC 2002: P[sign bits agree] = 1 - angle/pi,
    so Hamming distance on SRP bits is an unbiased angle estimator) —
    the sketch-only serving path, audited in-row against the exact
    cosine top-k.

    Every other ANN operator here re-scores candidates with the true
    cosine, which means touching raw vectors at query time.  This one
    never does: after the one-pass signature build the index is 16 BITS
    per vector, candidates come from bit-sliced band buckets of that
    same signature (4 x 4-bit tables — no per-band re-projection; the
    bands of an SRP signature ARE its bit slices, unlike
    ``ann_banded_lsh_topk`` which folds the plane dots once per band),
    and ranking is ``bit_count(sig XOR q_sig)``.  At 100 TB that is the
    difference between a 25 TB float corpus and a 250 GB bit index that
    serves from memory; the in-row ``in_exact_topk`` flag is the recall
    evidence for making that trade.

    Scale shape: signature build is map-side; the candidate join
    touches only (vec_id, sig, band, bucket) tuples with the bounded
    query side broadcast; ranking is a per-query (partitioned) window
    over bucket-mates.  Integer arithmetic end to end — the only
    doubles live inside the signature fold, identical in both engines.
    """
    v = _vectors(spark, sf_dir)
    sig = v.select("vec_id", F.expr(_bucket_expr("v")).alias("sig"))
    bands_arr = "array({})".format(
        ", ".join(
            f"shiftright(sig, {b * ANN_BAND_BITS}) & {(1 << ANN_BAND_BITS) - 1}"
            for b in range(ANN_BANDS)
        )
    )
    sb = sig.select(
        "vec_id", "sig", F.posexplode(F.expr(bands_arr)).alias("band", "bucket")
    )
    qb = sb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("sig").alias("q_sig"),
        "band",
        "bucket",
    )
    cand = (
        sb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "q_sig", "vec_id", "sig")
        .distinct()
    )
    scored = cand.select(
        "q_vec_id",
        "vec_id",
        F.expr("cast(bit_count(sig ^ q_sig) as bigint)").alias("hamming"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )
    exact = ann_cosine_topk(spark, sf_dir).select(
        "q_vec_id", "vec_id", F.lit(1).alias("hit")
    )
    return topk.join(exact, ["q_vec_id", "vec_id"], "left").select(
        "q_vec_id",
        "vec_id",
        "hamming",
        F.col("rank").cast("bigint").alias("rank"),
        F.coalesce("hit", F.lit(0)).cast("bigint").alias("in_exact_topk"),
    )


def _sql_srp_hamming() -> str:
    band_mask = (1 << ANN_BAND_BITS) - 1
    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings
        ),
        s AS (
          SELECT vec_id, {_sql_bucket('v')} AS sig FROM v
        ),
        sb AS (
          SELECT vec_id, sig, b.band,
                 (sig >> (b.band * {ANN_BAND_BITS})) & {band_mask} AS bucket
          FROM s CROSS JOIN
               (SELECT unnest(generate_series(0, {ANN_BANDS - 1})) AS band) b
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS q_vec_id, q.sig AS q_sig,
                 c.vec_id, c.sig
          FROM sb q JOIN sb c ON q.band = c.band AND q.bucket = c.bucket
          WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        ),
        scored AS (
          SELECT q_vec_id, vec_id,
                 CAST(bit_count(xor(sig, q_sig)) AS BIGINT) AS hamming
          FROM cand
        ),
        topk AS (
          SELECT q_vec_id, vec_id, hamming, rank FROM (
            SELECT *, CAST(row_number() OVER (
                     PARTITION BY q_vec_id ORDER BY hamming ASC, vec_id ASC)
                   AS BIGINT) AS rank
            FROM scored
          ) WHERE rank <= {TOP_K}
        ),
        exact AS (
          SELECT q_vec_id, vec_id FROM ({ORACLE["ann_cosine_topk"]})
        )
        SELECT t.q_vec_id, t.vec_id, t.hamming, t.rank,
               CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
                 AS in_exact_topk
        FROM topk t LEFT JOIN exact e
          ON t.q_vec_id = e.q_vec_id AND t.vec_id = e.vec_id
    """


ORACLE["srp_hamming_topk_audit"] = _sql_srp_hamming()
QUERIES["srp_hamming_topk_audit"] = srp_hamming_topk_audit


# ---- Graph-based ANN: bounded-degree kNN graph + beam search ----------------
#
# The one ANN family not yet represented next to LSH / IVF / PQ / SRP:
# navigate a neighbour GRAPH instead of hashing or clustering the
# space (NSW/HNSW lineage — Malkov & Yashunin, TPAMI 2018 — reduced to
# its DataFrame-expressible core: a single-layer bounded-degree graph
# and a fixed-depth beam search).  The index is a plain (src, dst)
# edge table; a query walks it in GRAPH_HOPS rounds, keeping the
# GRAPH_BEAM best-scored nodes seen so far — every round is one
# broadcast-frontier join against the src-keyed edge table plus a
# per-query top-B rank, so search cost at 100 TB is O(hops * beam *
# degree) edge lookups per query, independent of corpus size.

GRAPH_DEG = 8      # out-degree of the kNN graph (before symmetrize)
GRAPH_ENTRIES = 4  # fixed entry points: vec_id in [N_QUERIES, N_QUERIES+4)
GRAPH_HOPS = 3     # beam-search rounds
GRAPH_BEAM = 16    # beam width
GRAPH_NBHD = 12    # bucket-local sorted-neighborhood span per band


def ann_graph_beam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam search over a banded-LSH-built kNN graph, recall-flagged
    against the exact top-k.

    Build (index time): candidate edges from the ANN_BANDS x 4-bit
    hyperplane tables, with candidate generation bounded by a
    SORTED-NEIGHBORHOOD within each (band, bucket): members are ranked
    by their hashed id and each node pairs with the next GRAPH_NBHD
    ranks only — O(n * bands * GRAPH_NBHD) candidate ids TOTAL, never
    O(sum bucket^2) (a full bucket self-join is quadratic in bucket
    occupancy, the exact blow-up the scale harness's replicated
    corpora force).  Candidates are scored once, cut to GRAPH_DEG per
    node (WindowGroupLimit), then symmetrized — the standard
    undirected NSW degree bound of 2*GRAPH_DEG.  Hash-order sampling
    inside a bucket is an unbiased bucket sample, which is all an
    NSW-style graph needs: long-range connectivity comes from the
    band OR, local refinement from the beam search itself.

    Search (query time): start from GRAPH_ENTRIES fixed entry nodes,
    then GRAPH_HOPS rounds of: expand the beam's out-edges, union the
    beam (best-so-far is monotone), dedup, score against the query,
    keep the GRAPH_BEAM best (ties to the lower vec_id).  The loop is
    unrolled in the plan — each round is one join against the
    persisted edge table with the tiny frontier broadcast, exactly the
    serving-time shape.

    Output: the final per-query TOP_K with ``in_exact`` flagging
    membership in ``ann_cosine_topk``'s answer — the recall audit is
    in-row, like ``srp_hamming_topk_audit``.
    """
    v = _vectors(spark, sf_dir).persist()
    bands_arr = "array({})".format(
        ", ".join(_band_bucket_expr("v", b) for b in range(ANN_BANDS))
    )
    wb = Window.partitionBy("band", "bucket").orderBy(
        md5_long(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    # persist: feeds the probe fan-out AND the rank-match join side
    # (released with v/edges below — index-build state only)
    vb = (
        v.select(
            "vec_id", F.posexplode(F.expr(bands_arr)).alias("band", "bucket")
        )
        .withColumn("r", F.row_number().over(wb))
        .persist()
    )
    steps = spark.range(1, GRAPH_NBHD + 1).select(
        F.col("id").cast("int").alias("step")
    )
    probes = vb.crossJoin(F.broadcast(steps)).select(
        "band",
        "bucket",
        (F.col("r") + F.col("step")).alias("r"),
        F.col("vec_id").alias("peer"),
    )
    # one rank-match join; both edge directions explode from the
    # matched row (the duplicated-join variant ran the join twice)
    cand = (
        vb.join(probes.hint("merge"), ["band", "bucket", "r"])
        .where(F.col("vec_id") != F.col("peer"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("vec_id").alias("src"), F.col("peer").alias("dst")
                    ),
                    F.struct(
                        F.col("peer").alias("src"), F.col("vec_id").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    scored_e = (
        cand.join(
            v.select(
                F.col("vec_id").alias("src"),
                F.col("v").alias("sv"),
                F.col("norm").alias("snorm"),
            ),
            "src",
        )
        .join(
            v.select(
                F.col("vec_id").alias("dst"),
                F.col("v").alias("dv"),
                F.col("norm").alias("dnorm"),
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.round(
                F.expr(_DOT.format(a="sv", b="dv"))
                / (F.col("snorm") * F.col("dnorm")),
                6,
            ).alias("cos"),
        )
    )
    wdeg = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst").asc()
    )
    knn = (
        scored_e.withColumn("rn", F.row_number().over(wdeg))
        .filter(F.col("rn") <= GRAPH_DEG)
        .select("src", "dst")
    )
    edges = (
        knn.unionByName(
            knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    entries = v.filter(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + GRAPH_ENTRIES)
    ).select("vec_id")

    def _score(ids: DataFrame) -> DataFrame:
        return (
            ids.join(v, "vec_id")
            .join(F.broadcast(q), "q_vec_id")
            .where(F.col("vec_id") != F.col("q_vec_id"))
            .select(
                "q_vec_id",
                "vec_id",
                F.round(
                    F.expr(_DOT.format(a="qv", b="v"))
                    / (F.col("qnorm") * F.col("norm")),
                    6,
                ).alias("cos"),
            )
        )

    wq = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    # The beam state is O(queries x GRAPH_BEAM) rows BY CONSTRUCTION —
    # it lives on the driver between hops, exactly like the IVF
    # centroid table (`ann_ivf_topk`): each hop ships the frontier back
    # out as a literal frame, probes the src-keyed edge table, scores,
    # and keeps the top GRAPH_BEAM per query.  This is the real
    # serving-time shape (the coordinator holds the beam; the cluster
    # holds the graph), and it keeps every hop's plan flat — the
    # DataFrame-chained variant nested each hop's lineage into the next
    # (2 MiB -> 17 MiB task binaries, driver OOM at 3 hops).
    frontier_rows = [
        (r["q_vec_id"], r["vec_id"])
        for r in q.select("q_vec_id").crossJoin(F.broadcast(entries)).collect()
    ]
    beam_rows: list[tuple] = []
    for _ in range(GRAPH_HOPS):
        frontier = spark.createDataFrame(
            frontier_rows, "q_vec_id long, vec_id long"
        )
        expanded = frontier.unionByName(
            edges.join(
                F.broadcast(
                    frontier.select("q_vec_id", F.col("vec_id").alias("src"))
                ),
                "src",
            ).select("q_vec_id", F.col("dst").alias("vec_id"))
        )
        # no distinct() before scoring: duplicates of a pair are
        # identical (q, vec_id, cos) triples, so dense_rank gives every
        # pair the row_number it would have had among DISTINCT pairs
        # (vec_id breaks cos ties) and a driver-side set dedupes the
        # copies — one exchange + one aggregate saved per hop for a few
        # duplicated map-side dot products (interleaved A/B over the
        # hop loop: 7.13 -> 5.19 s min-of-3, identical beam asserted)
        beam_rows = sorted(
            {
                (r["q_vec_id"], r["vec_id"], r["cos"])
                for r in (
                    _score(expanded)
                    .withColumn("rn", F.dense_rank().over(wq))
                    .filter(F.col("rn") <= GRAPH_BEAM)
                    .select("q_vec_id", "vec_id", "cos")
                    .collect()
                )
            }
        )
        frontier_rows = [(qv, vid) for qv, vid, _ in beam_rows]
    # Index-time state (v, edges) served the hops above and is done;
    # the RETURNED frame is search output (the beam, now a literal) and
    # the exact-recall audit pass rebuilt from the scan — so the
    # audited plan is precisely the audit's own cost, with no
    # materialized-cache subtrees nested inside it.  The round-trip
    # through the driver is lossless: cosines are already rounded to 6
    # places and Python floats ARE IEEE-754 doubles.
    v.unpersist()
    vb.unpersist()
    edges.unpersist()
    vx = _vectors(spark, sf_dir)
    qx = vx.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    exact = (
        vx.crossJoin(F.broadcast(qx))
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .withColumn(
            "cos",
            F.round(
                F.expr(_DOT.format(a="qv", b="v"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ),
        )
        .withColumn("xrn", F.row_number().over(wq))
        .filter(F.col("xrn") <= TOP_K)
        .select("q_vec_id", "vec_id", F.lit(1).alias("hit"))
    )
    beam = spark.createDataFrame(
        beam_rows, "q_vec_id long, vec_id long, cos double"
    )
    return (
        beam.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= TOP_K)
        .join(exact, ["q_vec_id", "vec_id"], "left")
        .select(
            "q_vec_id",
            "vec_id",
            "cos",
            F.col("rank").cast("bigint").alias("rank"),
            F.coalesce("hit", F.lit(0)).cast("bigint").alias("in_exact"),
        )
    )


def _sql_graph_beam() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_sql_band_bucket('v', b)} AS bucket"
        " FROM v"
        for b in range(ANN_BANDS)
    )
    hops = []
    prev = "f0"
    for h in range(1, GRAPH_HOPS + 1):
        hops.append(f"""
        h{h}c AS (
          SELECT DISTINCT q_vec_id, vec_id FROM (
            SELECT q_vec_id, vec_id FROM {prev}
            UNION ALL
            SELECT f.q_vec_id, e.dst AS vec_id
            FROM {prev} f JOIN edges e ON e.src = f.vec_id
          )
        ),
        h{h}s AS (
          SELECT hc.q_vec_id, hc.vec_id,
                 ROUND(list_dot_product(q.qv, c.v) / (q.qnorm * c.norm), 6)
                   AS cos
          FROM h{h}c hc
          JOIN v c ON c.vec_id = hc.vec_id
          JOIN q ON q.q_vec_id = hc.q_vec_id
          WHERE hc.vec_id <> hc.q_vec_id
        ),
        f{h} AS (
          SELECT q_vec_id, vec_id, cos FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY q_vec_id ORDER BY cos DESC, vec_id ASC)
                   AS rn
            FROM h{h}s
          ) WHERE rn <= {GRAPH_BEAM}
        )""")
        prev = f"f{h}"
    hops_sql = ",".join(hops)
    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM embeddings
        ),
        vb AS (
          SELECT vec_id, band, bucket,
                 row_number() OVER (
                   PARTITION BY band, bucket
                   ORDER BY {sql_md5_long('CAST(vec_id AS VARCHAR)')},
                            vec_id) AS r
          FROM ({band_rows})
        ),
        cand AS (
          SELECT DISTINCT src, dst FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst
            FROM vb a JOIN vb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND b.r BETWEEN a.r + 1 AND a.r + {GRAPH_NBHD}
            UNION ALL
            SELECT b.vec_id AS src, a.vec_id AS dst
            FROM vb a JOIN vb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND b.r BETWEEN a.r + 1 AND a.r + {GRAPH_NBHD}
          ) WHERE src <> dst
        ),
        scored_e AS (
          SELECT c.src, c.dst,
                 ROUND(list_dot_product(vs.v, vd.v)
                       / (vs.norm * vd.norm), 6) AS cos
          FROM cand c
          JOIN v vs ON vs.vec_id = c.src
          JOIN v vd ON vd.vec_id = c.dst
        ),
        knn AS (
          SELECT src, dst FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
            FROM scored_e
          ) WHERE rn <= {GRAPH_DEG}
        ),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM knn
            UNION ALL
            SELECT dst AS src, src AS dst FROM knn
          )
        ),
        q AS (
          SELECT vec_id AS q_vec_id, v AS qv, norm AS qnorm
          FROM v WHERE vec_id < {N_QUERIES}
        ),
        f0 AS (
          SELECT q.q_vec_id, e.vec_id
          FROM q CROSS JOIN (
            SELECT vec_id FROM v
            WHERE vec_id >= {N_QUERIES}
              AND vec_id < {N_QUERIES + GRAPH_ENTRIES}
          ) e
        ),{hops_sql},
        final AS (
          SELECT q_vec_id, vec_id, cos,
                 CAST(row_number() OVER (
                        PARTITION BY q_vec_id
                        ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM f{GRAPH_HOPS}
        ),
        exact AS (
          SELECT q_vec_id, vec_id FROM ({ORACLE["ann_cosine_topk"]})
        )
        SELECT f.q_vec_id, f.vec_id, f.cos, f.rank,
               CAST(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS in_exact
        FROM final f
        LEFT JOIN exact x
          ON x.q_vec_id = f.q_vec_id AND x.vec_id = f.vec_id
        WHERE f.rank <= {TOP_K}
    """


ORACLE["ann_graph_beam_audit"] = _sql_graph_beam()
QUERIES["ann_graph_beam_audit"] = ann_graph_beam_audit

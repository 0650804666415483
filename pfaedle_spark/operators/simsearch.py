"""Similarity search over the ``embeddings`` table (array<float> column).

* brute-force cosine top-k  — broadcast query set x full scan (baseline)
* IVF-bucketed top-k        — coarse quantizer (deterministic seed
  centroids) -> per-bucket search; the 100 TB path: the bucket id is a
  join/partition key, so each query probes ~1/C of the data.

Exactness strategy for the DuckDB oracle: embeddings are float32;
cross-engine float summation order would drift. We quantize each
component to an integer (floor(x*1024 + 0.5)) — integer dot products
and norms are order-independent and exact, and the final
``dot / sqrt(na*nb)`` is one correctly-rounded IEEE expression, hence
bit-identical in both engines.

Spark side stays JVM-vectorized: ``transform``/``zip_with``/
``aggregate`` array expressions, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Q = 1024          # quantization scale
TOP_K = 5
Q_STRIDE = 50     # query set = vec_id % Q_STRIDE == 0
N_CENTROIDS = 8
CENTROID_STRIDE = 17  # centroid c = the vector with vec_id = c * 17


def _quant(col: Column) -> Column:
    """array<float> -> array<bigint>, floor(x*Q + 0.5) (exact both engines)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * Q + 0.5).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _quant_sql(expr: str) -> str:
    return f"LIST_TRANSFORM({expr}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {Q} + 0.5) AS BIGINT))"


def quantized(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id",
        "label",
        _quant(F.col("embedding")).alias("qv"),
    ).withColumn("norm2", _dot(F.col("qv"), F.col("qv")))


def _quantized_cte() -> str:
    return f"""
qe AS (
  SELECT vec_id, label, {_quant_sql('embedding')} AS qv
  FROM embeddings
),
qn AS (
  SELECT vec_id, label, qv, LIST_DOT_PRODUCT(qv, qv)::BIGINT AS norm2 FROM qe
)"""


def _cosine(dot: Column, na: Column, nb: Column) -> Column:
    return dot.cast("double") / F.sqrt((na * nb).cast("double"))


def ann_brute(embeddings: DataFrame, k: int = TOP_K, q_stride: int = Q_STRIDE) -> DataFrame:
    """Exact cosine top-k: broadcast query subset against the full table.

    At 100 TB the query side is the small one (broadcast), the corpus
    scan is embarrassingly parallel, and the top-k is a per-query
    window over k*|queries| rows after a map-side rank prefilter.
    """
    from pyspark.sql import Window

    qe = quantized(embeddings)
    queries = qe.filter(F.col("vec_id") % q_stride == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"), F.col("norm2").alias("q_n2")
    )
    pairs = qe.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = pairs.withColumn("dot", _dot(F.col("q_qv"), F.col("qv"))).select(
        "query_id",
        "vec_id",
        "label",
        _cosine(F.col("dot"), F.col("q_n2"), F.col("norm2")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "label", "cosine")
    )


def ann_brute_sql(k: int = TOP_K, q_stride: int = Q_STRIDE) -> str:
    return f"""WITH {_quantized_cte().lstrip()},
queries AS (SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_n2 FROM qn
            WHERE vec_id % {q_stride} = 0),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         LIST_DOT_PRODUCT(q.q_qv, e.qv)::DOUBLE
           / SQRT((q.q_n2 * e.norm2)::DOUBLE) AS cosine
  FROM queries q JOIN qn e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, cosine FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------------
# IVF (inverted-file) bucketed variant
# --------------------------------------------------------------------

def centroids(embeddings: DataFrame) -> DataFrame:
    """Deterministic coarse centroids: the vectors with
    vec_id = c*CENTROID_STRIDE, c in [0, N_CENTROIDS)."""
    qe = quantized(embeddings)
    return (
        qe.filter(
            (F.col("vec_id") % CENTROID_STRIDE == 0)
            & (F.col("vec_id") < N_CENTROIDS * CENTROID_STRIDE)
        )
        .select(
            (F.col("vec_id") / CENTROID_STRIDE).cast("int").alias("centroid_id"),
            F.col("qv").alias("c_qv"),
            F.col("norm2").alias("c_n2"),
        )
    )


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """Vector -> nearest centroid by cosine (ties -> smaller id).
    The bucket id is the partition/join key of the IVF index."""
    from pyspark.sql import Window

    qe = quantized(embeddings)
    cents = centroids(embeddings)
    scored = qe.crossJoin(F.broadcast(cents)).withColumn(
        "c_cos", _cosine(_dot(F.col("qv"), F.col("c_qv")), F.col("norm2"), F.col("c_n2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", "label", "qv", "norm2", "centroid_id")
    )


def _ivf_assign_cte() -> str:
    return f"""{_quantized_cte()},
cents AS (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS centroid_id,
         qv AS c_qv, norm2 AS c_n2
  FROM qn
  WHERE vec_id % {CENTROID_STRIDE} = 0 AND vec_id < {N_CENTROIDS * CENTROID_STRIDE}
),
assign_scored AS (
  SELECT e.vec_id, e.label, e.qv, e.norm2, c.centroid_id,
         LIST_DOT_PRODUCT(e.qv, c.c_qv)::DOUBLE
           / SQRT((e.norm2 * c.c_n2)::DOUBLE) AS c_cos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY LIST_DOT_PRODUCT(e.qv, c.c_qv)::DOUBLE
                                       / SQRT((e.norm2 * c.c_n2)::DOUBLE) DESC,
                                     c.centroid_id ASC) AS r
  FROM qn e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, qv, norm2, centroid_id FROM assign_scored WHERE r = 1
)"""


def ivf_topk(
    embeddings: DataFrame | None = None,
    k: int = TOP_K,
    q_stride: int = Q_STRIDE,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: each query probes only its own bucket.

    The probe is an equi-join on centroid_id — at scale this is the
    partition-pruned path (bucket = Iceberg partition). Pass
    ``assigned`` (a prebuilt ``ivf_assign`` output, i.e. the stored
    IVF index) to serve repeated query batches without re-deriving the
    index — that is the production serving shape, and it also keeps
    the probe's parallelism tied to the index's own partitioning
    instead of the assignment window's post-shuffle partition count
    (which AQE coalesces to ~1 on small inputs, serializing the
    broadcast-join row expansion)."""
    from pyspark.sql import Window

    if assigned is None:
        assigned = ivf_assign(embeddings)
    queries = assigned.filter(F.col("vec_id") % q_stride == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_n2"),
        "centroid_id",
    )
    pairs = assigned.join(F.broadcast(queries), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        "label",
        _cosine(_dot(F.col("q_qv"), F.col("qv")), F.col("q_n2"), F.col("norm2")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "label", "cosine")
    )


def ivf_topk_sql(k: int = TOP_K, q_stride: int = Q_STRIDE) -> str:
    return f"""WITH {_ivf_assign_cte().lstrip()},
queries AS (SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_n2, centroid_id
            FROM assigned WHERE vec_id % {q_stride} = 0),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         LIST_DOT_PRODUCT(q.q_qv, e.qv)::DOUBLE
           / SQRT((q.q_n2 * e.norm2)::DOUBLE) AS cosine
  FROM queries q JOIN assigned e USING (centroid_id)
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, cosine FROM ranked WHERE rank <= {k}
"""


def ivf_assign_counts(embeddings: DataFrame) -> DataFrame:
    """Bucket histogram — the skew diagnostic for the IVF index."""
    return (
        ivf_assign(embeddings)
        .groupBy("centroid_id")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def ivf_assign_counts_sql() -> str:
    return f"""WITH {_ivf_assign_cte().lstrip()}
SELECT centroid_id, COUNT(*) AS n_vectors FROM assigned GROUP BY centroid_id
"""


# --------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (SRP-LSH banded)
# --------------------------------------------------------------------
#
# The near-dup analogue of MinHash-LSH for dense vectors: sign random
# projections (Charikar '02) bucket vectors by the signs of SRP_BITS
# deterministic integer hyperplanes; only pairs that agree on a full
# band of BAND_W bits are candidates, then the exact quantized cosine
# filters at NEARDUP_THRESH.  At 100 TB the (band, key) pair is the
# shuffle key — never all-pairs — and the exact check touches only
# bucket-mates, the same shape as `minhash_pairs`/`simhash_pairs`.
# Hyperplane component (j, d) = LCG(j*D + d) (glibc constants), so
# both engines derive identical integer weights with no stored model.
#
# The testdata embeddings are mutually near-orthogonal, so near-dups
# are synthesized deterministically: every VSTRIDE-th vector gets a
# jittered copy (±2 on the Q-quantized scale, id + VAR_OFFSET) —
# cosine ≈ 0.99994 vs < 0.6 for every non-dup pair.

SRP_BITS = 32
SRP_BANDS = 4
BAND_W = SRP_BITS // SRP_BANDS
NEARDUP_THRESH = 0.99
VSTRIDE = 5
VAR_OFFSET = 1_000_000
_LCG_MUL = 1103515245
_LCG_ADD = 12345
_LCG_MOD = 2147483648
_LCG_HALF = 1073741824
EMB_DIM = 64


def _neardup_variants(embeddings: DataFrame) -> DataFrame:
    """Base quantized vectors plus deterministic jittered near-copies."""
    base = embeddings.select("vec_id", _quant(F.col("embedding")).alias("qv"))
    idx = F.sequence(F.lit(0), F.lit(EMB_DIM - 1)).cast("array<long>")
    var = base.filter(F.col("vec_id") % VSTRIDE == 0).select(
        (F.col("vec_id") + VAR_OFFSET).alias("vec_id"),
        F.zip_with(
            F.col("qv"), idx,
            lambda x, d: x + (F.col("vec_id") * 31 + d * 7) % 5 - 2,
        ).alias("qv"),
    )
    return base.unionByName(var)


def _srp_weights():
    """The (SRP_BITS x EMB_DIM) integer hyperplane matrix, derived from
    the LCG formula — identical to the SQL oracle's per-component
    expression, no stored model."""
    import numpy as np

    j = np.arange(SRP_BITS, dtype=np.int64)[:, None]
    d = np.arange(EMB_DIM, dtype=np.int64)[None, :]
    return (_LCG_MUL * (j * EMB_DIM + d) + _LCG_ADD) % _LCG_MOD - _LCG_HALF


def _srp_keys_np():
    """Arrow-batched SRP band keys: ONE int64 matmul per batch.

    The hyperplane pass is 32x64 multiply-adds per vector; as Catalyst
    higher-order functions that is ~2048 interpreted expression evals
    per row (HOFs never enter whole-stage codegen) and measured 3.0 s
    of emb_neardup's 4.5 s at sf0.1.  A pandas UDF does the whole batch
    as (n,64)@(64,32) in one BLAS-free numpy int64 matmul — bit-identical
    to the expression form and the DuckDB oracle because every operand
    is an in-range int64 (|qv| <= ~Q, |w| < 2^31: max |sum| < 2^47, no
    overflow on either engine), and sign/band packing is pure integer.
    A null or wrong-length ``qv`` gets a null key (as the expression
    form propagates NULL) instead of failing the stage."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def srp_keys(qv):
        ok = [v is not None and len(v) == EMB_DIM for v in qv]
        out = [None] * len(qv)
        if any(ok):
            m = np.vstack([np.asarray(v, dtype=np.int64) for v, k in zip(qv, ok) if k])
            bits = (m @ _srp_weights().T >= 0).astype(np.int64)  # (n, SRP_BITS)
            pw = np.int64(1) << np.arange(BAND_W, dtype=np.int64)
            keys = bits.reshape(-1, SRP_BANDS, BAND_W) @ pw      # (n, SRP_BANDS)
            for i, key in zip(np.flatnonzero(ok), keys):
                out[i] = key
        return pd.Series(out, dtype=object)

    # annotations set as OBJECTS (not strings): this module's
    # `from __future__ import annotations` would stringify inline hints
    # and pandas_udf can't resolve 'pd.Series' from a nested scope
    srp_keys.__annotations__ = {"qv": pd.Series, "return": pd.Series}
    return pandas_udf(srp_keys, "array<long>")


def _srp_keys_expr() -> Column:
    """The same band keys as a pure Catalyst HOF expression — the
    cross-implementation twin for `_srp_keys_np` (test_training_ops
    asserts bit-equality; the UDF is the production path)."""
    idx = F.sequence(F.lit(0), F.lit(EMB_DIM - 1)).cast("array<long>")
    weight = lambda j, d: (F.lit(_LCG_MUL) * (j * EMB_DIM + d) + _LCG_ADD) % _LCG_MOD - _LCG_HALF
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(SRP_BITS - 1)).cast("array<long>"),
        lambda j: F.when(
            F.aggregate(
                F.zip_with(F.col("qv"), idx, lambda x, d: x * weight(j, d)),
                F.lit(0).cast("long"), lambda acc, x: acc + x,
            ) >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    pw = F.array(*[F.lit(1 << i).cast("long") for i in range(BAND_W)])
    # NOTE: bits must bind via a let-style outer reference if this ever
    # feeds a multi-band consumer directly — no CSE across HOF lambda
    # scopes: a non-trivial child expression referenced inside a lambda
    # is re-evaluated per element (measured 10x slower on a shingle
    # builder of this shape).
    return F.transform(
        F.sequence(F.lit(0), F.lit(SRP_BANDS - 1)),
        lambda band: F.aggregate(
            F.zip_with(
                F.slice(bits, band * BAND_W + 1, BAND_W), pw, lambda x, y: x * y
            ),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        ),
    )


def _srp_signatures(vectors: DataFrame) -> DataFrame:
    """vec_id, qv -> (vec_id, qv, norm2, keys): per-vector SRP band
    keys as ONE array column, pre-explosion — so one checkpointed table
    can feed both the (id, band, key) bucket rows and the (qv, norm2)
    scoring fetch without recomputing the 32x64 hyperplane products.
    Keys come from the Arrow-batched matmul kernel (`_srp_keys_np`);
    norm2 stays a JVM array expression (64 ops/row, not worth a UDF)."""
    return vectors.select(
        "vec_id", "qv",
        _dot(F.col("qv"), F.col("qv")).alias("norm2"),
        _srp_keys_np()(F.col("qv")).alias("keys"),
    )


def emb_neardup(embeddings: DataFrame, thresh: float = NEARDUP_THRESH) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded SRP-LSH.

    The bucket self-join moves (vec_id, band, key) ONLY — carrying the
    64-long qv through it ships each array SRP_BANDS x on both sides of
    the exchange, and the old shape scored one cosine per colliding
    BAND pair before deduping. Instead: dedup to id pairs first, then
    fetch (qv, norm2) for pair MEMBERS via a broadcast semi-join (the
    pair list is sparse; the full-table shuffle is mostly dead rows at
    scale) and score each pair exactly once."""
    # both sides of the bucket self-join and the member fetch read the
    # same table — without a cut each branch re-runs the 32x64
    # hyperplane dot products per vector; checkpoint the COMPACT
    # pre-explosion signatures (one row per vector, keys as an array)
    sig = _srp_signatures(_neardup_variants(embeddings)).localCheckpoint(eager=True)
    arr = sig.select("vec_id", "qv", "norm2")
    bucket = sig.select("vec_id", F.posexplode("keys").alias("band", "key"))
    a = bucket.select(F.col("vec_id").alias("a_id"), "band", "key")
    b = bucket.select(F.col("vec_id").alias("b_id"), "band", "key")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    members = pairs.select(F.col("a_id").alias("vec_id")).union(
        pairs.select(F.col("b_id").alias("vec_id"))
    )
    m = arr.join(F.broadcast(members), "vec_id", "left_semi")
    pa = m.select(
        F.col("vec_id").alias("a_id"), F.col("qv").alias("aqv"), F.col("norm2").alias("na")
    )
    pb = m.select(
        F.col("vec_id").alias("b_id"), F.col("qv").alias("bqv"), F.col("norm2").alias("nb")
    )
    return (
        pairs.join(pa, "a_id")
        .join(pb, "b_id")
        .withColumn("dot", _dot(F.col("aqv"), F.col("bqv")))
        .withColumn("cosine", _cosine(F.col("dot"), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= thresh)
        .select("a_id", "b_id", "cosine")
    )


def emb_neardup_sql(thresh: float = NEARDUP_THRESH) -> str:
    powers = ", ".join(str(1 << i) for i in range(BAND_W))
    return f"""WITH base AS (
  SELECT vec_id, {_quant_sql('embedding')} AS qv FROM embeddings
),
vars AS (
  SELECT vec_id + {VAR_OFFSET} AS vec_id,
         LIST_TRANSFORM(RANGE(1, {EMB_DIM}+1),
                        d -> qv[d] + (vec_id*31 + (d-1)*7) % 5 - 2) AS qv
  FROM base WHERE vec_id % {VSTRIDE} = 0
),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
hv AS (
  SELECT vec_id, qv,
         LIST_DOT_PRODUCT(qv, qv)::BIGINT AS norm2,
         LIST_TRANSFORM(RANGE(0, {SRP_BITS}), j ->
           CASE WHEN LIST_SUM(LIST_TRANSFORM(RANGE(1, {EMB_DIM}+1), d ->
             qv[d] * (({_LCG_MUL}*(j*{EMB_DIM}+(d-1)) + {_LCG_ADD}) % {_LCG_MOD} - {_LCG_HALF})
           )) >= 0 THEN 1 ELSE 0 END) AS bits
  FROM allv
),
banded AS (
  SELECT vec_id, qv, norm2, band,
         LIST_DOT_PRODUCT(LIST_SLICE(bits, band*{BAND_W}+1, band*{BAND_W}+{BAND_W}),
                          [{powers}])::BIGINT AS key
  FROM hv, (SELECT UNNEST(RANGE(0, {SRP_BANDS})) AS band)
),
cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         LIST_DOT_PRODUCT(a.qv, b.qv)::BIGINT AS dot,
         a.norm2 AS na, b.norm2 AS nb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT DISTINCT a_id, b_id, dot::DOUBLE / SQRT((na*nb)::DOUBLE) AS cosine
FROM cand WHERE dot::DOUBLE / SQRT((na*nb)::DOUBLE) >= {thresh}
"""

"""Similarity search over embedding columns (SURVEY.md §2.D D3).

Brute-force cosine top-k as the exact baseline, IVF-style cluster-pruned
search as the scale path, and cosine near-dup pairs with label blocking.
Float discipline: every dot product casts elements to double BEFORE
multiplying and accumulates left-to-right on both engines, so cosines are
bit-identical and threshold filters cannot diverge.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import fan_out, table
from ..exprs import pround
from ..registry import register


def dot(a: str | Column, b: str | Column) -> Column:
    """Order-stable double-precision dot product of two float arrays."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    """Euclidean norm with the same accumulation discipline as :func:`dot`."""
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sq_dist(a: str | Column, b: str | Column) -> Column:
    """Squared Euclidean distance, summed left to right like :func:`dot`."""
    diffs = F.zip_with(a, b, lambda x, c: (x - c) * (x - c))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame, vec_col: str = "embedding",
              out: str = "nrm") -> DataFrame:
    """Attach the vector's norm as a column.

    Pairwise stages must precompute norms ONCE per vector (n rows) instead
    of inside the pair expression (n^2 evaluations) — measured 3x on
    dedup_embedding at sf0.1. sqrt of the same double on either engine is
    bit-identical, so oracles that spell the norm per pair still match.
    """
    return df.withColumn(out, norm(vec_col))


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, a): every embedding with its elements cast to double."""
    return fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("a"),
    )


def _queries(df: DataFrame, vec: str, *extra) -> DataFrame:
    """(q_id, qv, q_nrm, *extra): the first 10 vectors as query block."""
    return df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col(vec).alias("qv"),
        F.col("nrm").alias("q_nrm"),
        *extra,
    )


def _cos_scored(
    cands: DataFrame, q: DataFrame, on=None, vec: str = "embedding"
) -> DataFrame:
    """(q_id, cand_id, cos): candidates scored against a broadcast query
    block, self-pairs excluded.

    ``on`` is the join key (None pairs every candidate with every
    query). Both norms are precomputed columns, once per vector, not per
    pair; sqrt of the same double is bit-identical to the oracles'
    per-pair spelling.
    """
    q = F.broadcast(q)
    pairs = cands.crossJoin(q) if on is None else cands.join(q, on)
    return pairs.filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("cand_id"),
        (dot("qv", vec) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"),
    )


def _top_k(scored: DataFrame, k: int, *order) -> DataFrame:
    """Rows ranked 1..k (``rk``) within each q_id by ``order``."""
    w = Window.partitionBy("q_id").orderBy(*order)
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def _cos_top_k(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, cand_id, cos_sim, rk): the k best cosines per query."""
    return _top_k(scored, k, F.desc("cos"), "cand_id").select(
        "q_id", "cand_id", pround("cos", 6).alias("cos_sim"), "rk"
    )


def _mean_vectors(
    df: DataFrame, key: str, digits: int | None = None
) -> DataFrame:
    """(key, cv): the per-key mean of the ``a`` vectors.

    One posexplode, a partial-aggregated (key, dim) average, then the
    dims collected back in order: only keys x dims rows shuffle.
    ``digits`` rounds each mean on both engines (the Lloyd update).
    """
    c = F.avg("val")
    per_dim = (
        df.select(key, F.posexplode("a").alias("dim", "val"))
        .groupBy(key, "dim")
        .agg((c if digits is None else pround(c, digits)).alias("c"))
    )
    return per_dim.groupBy(key).agg(
        F.sort_array(F.collect_list(F.struct("dim", "c")))
        .getField("c")
        .alias("cv")
    )


def _nearest(pairs: DataFrame) -> DataFrame:
    """(vec_id, cid, a): each point's nearest centroid.

    ``pairs`` holds one (vec_id, a, cid, cv) row per candidate centroid.
    The argmin is a lexicographic struct-min: (dist, cid) is unique per
    point, so min(struct) is the (dist asc, cid asc) winner, and it runs
    as a partial->final hash aggregation — when the centroids arrive by
    broadcast the fan-out collapses map-side and the only shuffle
    carries one row per point, never a sort.
    """
    dist = sq_dist("a", "cv").alias("dist")
    return (
        pairs.groupBy("vec_id")
        .agg(
            F.min(F.struct(dist, "cid")).alias("m"),
            # every row in the group carries the same point vector, so
            # first() is deterministic — keeping the array OUT of the
            # min struct keeps the comparator a codegen'd (double, int)
            # compare instead of an interpreted array-bearing one
            F.first("a").alias("a"),
        )
        .select("vec_id", F.col("m.cid").alias("cid"), "a")
    )


def lloyd(
    pts: DataFrame, k: int, updates: int
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over (vec_id, a): (assigned, centroids).

    Seeds are the first ``k`` vectors; each of the ``updates`` rounds
    assigns every point to its nearest centroid against a broadcast
    codebook and moves each centroid to its members' mean, rounded to 6
    digits on both engines so the next assignment compares bit-identical
    doubles. The k-row codebook is localCheckpointed every round, so the
    next round starts from k materialized rows instead of re-deriving
    the earlier ones. ``assigned`` is (vec_id, cid, a) against the final
    ``centroids`` (cid, cv). Callers materialize ``pts`` themselves: it
    is read once per round.
    """
    cents = pts.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("a").alias("cv")
    )
    for _ in range(updates):
        members = _nearest(pts.crossJoin(F.broadcast(cents)))
        cents = _mean_vectors(members, "cid", 6).localCheckpoint(eager=True)
    return _nearest(pts.crossJoin(F.broadcast(cents))), cents


#: DuckDB spelling of the same accumulation order (list_transform over a
#: 1-based range, summed left to right). {a}/{b} are column names.
_DUCK_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)


def _duck_cos(a: str, b: str) -> str:
    d = _DUCK_DOT.format(a=a, b=b)
    na = _DUCK_DOT.format(a=a, b=a)
    nb = _DUCK_DOT.format(a=b, b=b)
    return f"({d} / (sqrt({na}) * sqrt({nb})))"


@register(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    scored AS (SELECT q.q_id, e.vec_id AS cand_id,
                      {_duck_cos('qv', 'embedding')} AS cos
               FROM q CROSS JOIN embeddings e
               WHERE e.vec_id <> q.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
    survey="D3 (brute-force cosine top-k baseline)",
    scale="""
    Exact ANN baseline: the query set broadcasts (10 vectors), candidates
    stream — no shuffle of the big side; per-query top-k via rank-limited
    window. 100 TB path: this exact plan with the query side capped, or
    switch to similarity_ivf when the query set itself is large. All
    vector math is JVM-side higher-order functions — no Python.
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 query vectors."""
    e = with_norm(fan_out(table(spark, sf_dir, "embeddings")))
    return _cos_top_k(_cos_scored(e, _queries(e, "embedding")), 5)


@register(
    "similarity_ivf",
    oracle=f"""
    WITH cb AS (SELECT vec_id AS code_id, embedding AS cv FROM embeddings
                WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, code_id, embedding
      FROM (SELECT e.vec_id, cb.code_id, e.embedding,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_duck_cos('embedding', 'cv')} DESC,
                                cb.code_id) AS rk
            FROM embeddings e CROSS JOIN cb)
      WHERE rk = 1),
    q AS (SELECT vec_id AS q_id, code_id AS q_code, embedding AS qv
          FROM assigned WHERE vec_id < 10),
    scored AS (SELECT q.q_id, a.vec_id AS cand_id,
                      {_duck_cos('qv', 'a.embedding')} AS cos
               FROM q JOIN assigned a ON a.code_id = q.q_code
               WHERE a.vec_id <> q.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (IVF-pruned approximate search — the scale path)",
    scale="""
    IVF structure: a fixed codebook (here: first 16 vectors; in production
    k-means centroids via iterative_converge's loop) partitions the corpus
    by nearest-centroid; queries probe ONLY their own cell, cutting
    compared candidates by ~#cells. The cell id is a partitioning column:
    at 100 TB, cluster-prune becomes partition-prune on disk. Recall/cost
    is tuned by probing the nprobe nearest cells instead of 1.
    """,
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors searching only the query's IVF cell."""
    e = with_norm(fan_out(table(spark, sf_dir, "embeddings")))
    cb = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), "code_id"
    )
    assigned = (
        e.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "code_id",
            (dot("embedding", "cv") / (F.col("nrm") * F.col("c_nrm"))).alias(
                "cos_c"
            ),
        )
        .withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .select("vec_id", "embedding", "nrm", "code_id")
    )
    # assigned is consumed twice (q block + candidate side) and stays
    # UNcheckpointed: sf1-synth favored the checkpoint 3/4 (medians
    # 2.37 -> 1.56 s) but the 100-copy tier ran WORSE in 3/3 interleaved
    # rounds (9.6 -> 29.7 s medians) and sf0.1 is a wash-to-worse —
    # materializing the corpus-wide embedding-array relation grows with
    # the corpus while the 16-centroid argmin it saves stays cheap, so
    # the checkpoint loses exactly where scale matters (the TRAINED
    # variant keeps its checkpoint: its assignment embeds a Lloyd round).
    q = _queries(assigned, "embedding", F.col("code_id").alias("q_code"))
    scored = _cos_scored(assigned, q, F.col("code_id") == F.col("q_code"))
    return _cos_top_k(scored, 3)


def cosine_topk_numpy(
    candidates: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Vectorized (numpy) brute-force cosine top-k — the raw-throughput path.

    NOT used by declared queries: numpy's pairwise summation changes float
    accumulation order, so results can differ from the SQL oracle in the
    last ulp. For production scans where a 1-ulp tie flip is acceptable
    this path is ~an order of magnitude faster than per-element lambdas:
    each Arrow batch of candidates does ONE (batch x dim) @ (dim x nq)
    matmul against the broadcast query block.

    candidates: (vec_id, embedding), queries: (q_id, qv). Returns
    (q_id, cand_id, cos_sim, rk) like similarity_topk.
    """
    import numpy as np

    def safe_norm(m):
        # zero-norm guard: a 0/0 division yields NaN, and NaN sorts
        # GREATEST under F.desc — one all-zeros vector would become the
        # rank-1 neighbor of every query. Dividing by 1 instead leaves
        # the zero vector's cos at 0, ranking it last, which is the
        # right answer for "no direction".
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return np.where(n == 0.0, 1.0, n)

    spark = candidates.sparkSession
    schema = "q_id long, cand_id long, cos_sim double"
    q_rows = queries.collect()
    if not q_rows:
        # np.array([]) is 1-D, so the norm over axis 1 would raise
        return spark.createDataFrame([], schema + ", rk int")
    q_ids = [r.q_id for r in q_rows]
    q_mat = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_mat /= safe_norm(q_mat)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        import numpy as np
        import pandas as pd

        ids, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
            cand /= safe_norm(cand)
            sims = cand @ qm.T  # (batch, nq)
            out = {
                "q_id": np.repeat(ids, len(pdf)),
                "cand_id": np.tile(pdf["vec_id"].to_numpy(), len(ids)),
                "cos_sim": sims.T.reshape(-1),
            }
            yield pd.DataFrame(out)

    scored = candidates.mapInPandas(score, schema=schema).filter(
        F.col("q_id") != F.col("cand_id")
    )
    return _top_k(scored, k, F.desc("cos_sim"), "cand_id")


@register(
    "embedding_quantize",
    oracle="""
    WITH stats AS (
      SELECT min(v) AS lo, max(v) AS hi
      FROM (SELECT unnest(list_transform(embedding,
                   x -> CAST(x AS DOUBLE))) AS v
            FROM embeddings)),
    q AS (SELECT e.vec_id,
                 list_transform(e.embedding,
                     x -> CAST(round((CAST(x AS DOUBLE) - s.lo)
                               / (s.hi - s.lo) * 255, 0) AS INT)) AS qv
          FROM embeddings e CROSS JOIN stats s)
    SELECT vec_id,
           qv[1] AS q0,
           qv[64] AS q63,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS qsum,
           CAST(list_aggregate(qv, 'max') AS INT) AS qmax
    FROM q
    """,
    survey="D3 (scalar quantization — vector compression for ANN at scale)",
    scale="""
    int8-style scalar quantization: corpus min/max is one aggregate
    broadcast back; the per-element transform is a codegen'd lambda.
    Cuts vector bytes 4x (float32 -> uint8), which at 100 TB is the
    difference between an in-memory and a disk-bound ANN index; distance
    on quantized codes = integer ops. Same plan shape learns per-dim
    ranges by swapping the aggregate.
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-range scalar quantization of embeddings to 0..255 codes."""
    e = fan_out(table(spark, sf_dir, "embeddings"))
    stats = e.select(
        F.explode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "v"
        )
    ).agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    q = e.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round((cast(x as double) - lo)"
            " / (hi - lo) * 255, 0) as int))"
        ).alias("qv"),
    )
    qsum = F.aggregate(
        F.transform("qv", lambda x: x.cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return q.select(
        "vec_id",
        F.element_at("qv", 1).alias("q0"),
        F.element_at("qv", 64).alias("q63"),
        qsum.alias("qsum"),
        F.array_max("qv").alias("qmax"),
    )


def _srp_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, identical in both engines.

    Generated by a fixed LCG and rounded to 3 decimals so the literal
    embedded in the Spark plan and in the oracle SQL parses to the exact
    same double (decimal->binary conversion is correctly rounded in both
    JVMs and C++). No RNG state crosses engines — only digits.
    """
    planes, x = [], 1
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % 2147483648
            row.append(round(x / 2147483648 * 2 - 1, 3))
        planes.append(row)
    return planes


#: 12 planes from ONE LCG stream: rows 0..7 are the classic 8-bit SRP
#: signature every LSH query keys on; rows 8..11 are E111's refinement
#: bits. _srp_planes(12)[:8] == _srp_planes(8) by construction (the LCG
#: runs row-by-row), asserted in tests — so there is exactly ONE source
#: of truth for the signature, never a second 8-plane copy that would
#: have to be kept sign-threshold-identical by hand.
_PLANES12 = _srp_planes(12)


def _spark_srp_bits(lo: int, hi: int) -> Column:
    """SRP signature over planes [lo, hi) as an integer (bit p-lo)."""
    total = F.lit(0)
    for p in range(lo, hi):
        lit = F.array(*[F.lit(v) for v in _PLANES12[p]])
        d = dot("embedding", lit)
        total = total + F.when(d >= 0, F.lit(2 ** (p - lo))).otherwise(
            F.lit(0)
        )
    return total


def _duck_srp_bits(lo: int, hi: int) -> str:
    """DuckDB twin of :func:`_spark_srp_bits` — same planes, same order."""
    terms = []
    for p in range(lo, hi):
        lit = "[" + ", ".join(repr(v) for v in _PLANES12[p]) + "]"
        d = (
            "list_aggregate(list_transform(range(1, 65),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ({lit}[i])), 'sum')"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {2 ** (p - lo)} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _lsh_queries(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, queries): vectors with norms and 8-bit SRP ``bucket``,
    and their query block carrying ``q_bucket``."""
    e = with_norm(fan_out(table(spark, sf_dir, "embeddings"))).withColumn(
        "bucket", _spark_srp_bits(0, 8)
    )
    return e, _queries(e, "embedding", F.col("bucket").alias("q_bucket"))


def _lsh_probes(q: DataFrame) -> DataFrame:
    """(q_id, qv, q_nrm, probe): each query's bucket + its 8 one-bit flips."""
    flips = F.array(*[F.lit(0)] + [F.lit(1 << i) for i in range(8)])
    return q.select(
        "q_id", "qv", "q_nrm",
        F.explode(
            F.transform(flips, lambda m: F.col("q_bucket").bitwiseXOR(m))
        ).alias("probe"),
    )


def _recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(q_id, n_exact, n_hit, recall) of approx top-k vs exact top-k.

    exact is (q_id, cand_id), approx (q_id, a_cand). Both are k-bounded
    (<= |queries| x k rows), so approx broadcasts: the LEFT witness join
    (misses stay as 0-hit rows) is a BroadcastHashJoin instead of a
    sort-merge with two Exchanges + Sorts for 50-row inputs.
    """
    hit = F.when(F.col("a_cand").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return (
        exact.join(
            F.broadcast(approx),
            (exact["q_id"] == approx["q_id"])
            & (exact["cand_id"] == approx["a_cand"]),
            "left",
        )
        .select(exact["q_id"].alias("q_id"), "cand_id", "a_cand")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(hit).cast("long").alias("n_hit"),
            pround(
                F.sum(hit) / F.count(F.lit(1)).cast("double"), 6
            ).alias("recall"),
        )
    )


@register(
    "similarity_lsh",
    oracle=f"""
    WITH sig AS (SELECT vec_id, embedding,
                        {_duck_srp_bits(0, 8)} AS bucket
                 FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
          FROM sig WHERE vec_id < 10),
    scored AS (SELECT q.q_id, s.vec_id AS cand_id,
                      {_duck_cos('qv', 's.embedding')} AS cos
               FROM q JOIN sig s ON s.bucket = q.q_bucket
               WHERE s.vec_id <> q.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (SRP-LSH bucketed approximate search)",
    scale="""
    Sign-random-projection LSH: an 8-bit hyperplane signature computed at
    scan time buckets the corpus; queries compare only within their
    bucket (~1/256 of candidates for near-orthogonal data). Unlike IVF
    the signature needs NO trained codebook — it's a pure projection, so
    ingest and search never synchronize on a model artifact. At 100 TB
    the bucket id becomes a partition column (search = partition prune),
    and multi-probe (flip one signature bit) trades recall for cost
    without re-bucketing. Plane constants are literals in the plan —
    codegen folds them; no Python, no broadcast of model state.
    """,
)
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors within the query's SRP-LSH bucket."""
    e, q = _lsh_queries(spark, sf_dir)
    scored = _cos_scored(e, q, F.col("bucket") == F.col("q_bucket"))
    return _cos_top_k(scored, 3)


@register(
    "embedding_outliers",
    oracle="""
    WITH pts AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE))
                            AS a
                 FROM embeddings),
    cent AS (SELECT label, g.i AS dim, avg(a[g.i]) AS c
             FROM pts CROSS JOIN generate_series(1, 64) AS g(i)
             GROUP BY label, g.i),
    cv AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent
           GROUP BY label),
    d AS (SELECT p.vec_id, p.label,
                 round(sqrt(list_aggregate(
                     list_transform(range(1, 65),
                                    i -> (p.a[i] - c.cv[i])
                                         * (p.a[i] - c.cv[i])),
                     'sum')), 4) AS dist
          FROM pts p JOIN cv c ON p.label = c.label),
    stats AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd
              FROM d GROUP BY label)
    SELECT d.vec_id, d.label, d.dist,
           round((d.dist - s.mu) / s.sd, 4) AS z
    FROM d JOIN stats s ON d.label = s.label
    WHERE (d.dist - s.mu) / s.sd > 2.0
    """,
    survey="D3 extension (embedding-space outlier detection per label)",
    scale="""
    The embedding-quality gate: per-label centroids (k x 64 rows via one
    posexplode + partial-aggregated groupBy), broadcast back, exact
    per-point distance in a codegen'd array lambda, then a second tiny
    aggregate for per-label distance moments — the corpus streams twice
    through narrow stages and shuffles only k x dims + k rows. Points
    sitting > 2 sigma from their own label's centroid are mislabeled or
    degenerate embeddings; at 100 TB this is the filter that catches
    collapsed/NaN vectors before they poison contrastive training.
    sqrt and round applied identically on both engines keeps the oracle
    exact.
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors > 2 sigma from their label centroid (per-label z-score)."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("a"),
    )
    cv = _mean_vectors(pts, "label")
    dist = F.sqrt(sq_dist("a", "cv"))
    # d is read twice (per-label moments, final z filter); without the
    # checkpoint each read replays the centroid subtree (64x posexplode
    # + two shuffles) AND the 64-term distance lambda per point — 8
    # scan nodes / 8 Exchanges at sf0.01. Checkpointing the
    # ~20-byte/row (vec_id, label, dist) relation computes both exactly
    # once: 2 scans (points pass + centroid pass) ahead of it.
    d = (
        pts.join(F.broadcast(cv), "label")
        .select("vec_id", "label", pround(dist, 4).alias("dist"))
        .localCheckpoint(eager=True)
    )
    stats = d.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sd")
    )
    # try_divide: a degenerate label (all members identical -> sd = 0,
    # numerator exactly 0 since dist is pre-rounded) must yield NULL z
    # and drop out of the > 2.0 filter, matching DuckDB's NULL for 0/0;
    # a plain division THROWS under ANSI mode
    z = F.try_divide(F.col("dist") - F.col("mu"), F.col("sd"))
    return (
        d.join(F.broadcast(stats), "label")
        .withColumn("z", pround(z, 4))
        .filter(z > 2.0)
        .select("vec_id", "label", "dist", "z")
    )


_IVF_K = 16
_SQDIST_DUCK = (
    "list_aggregate(list_transform(range(1, 65),"
    " i -> ({p}[i] - {c}[i]) * ({p}[i] - {c}[i])), 'sum')"
)


def _duck_assign(pts: str, cents: str, out: str) -> str:
    """DuckDB CTE body: nearest-centroid assignment (argmin by sq dist)."""
    d = _SQDIST_DUCK.format(p="p.a", c="c.cv")
    return f"""{out} AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d}, c.cid) AS rk
        FROM {pts} p CROSS JOIN {cents} c) WHERE rk = 1)"""


def _ivf_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(assigned, trained): the trained-IVF substrate.

    ``assigned`` is (vec_id, cid, a) — every embedding in its trained
    cell; ``trained`` is the k-row (cid, cv) codebook after one Lloyd
    round. similarity_ivf_trained's pipeline — :func:`lloyd` with seed
    = first _IVF_K vectors and ONE update round (fixed for determinism)
    — shared with the composed IVF+ADC retrieval query (probes cells,
    re-ranks by asymmetric distance) and the nprobe=2 search (ranks the
    codebook per query to pick TWO cells, which needs ``trained``
    itself).
    """
    # localCheckpoint, not cache: the Lloyd round + final assignment
    # reuse pts, and checkpoint storage is released on DataFrame GC
    # instead of lingering in the executor cache
    pts = points(spark, sf_dir).localCheckpoint(eager=True)
    assigned, trained = lloyd(pts, _IVF_K, 1)
    # materialize the assignment WITH per-vector norms: every consumer
    # reads assigned 2-4 times (query block, candidate side, exact
    # witness side) and Spark has no common-subplan dedup, so an
    # uncheckpointed assigned re-runs the broadcast argmin per consumer;
    # nrm once per vector is the with_norm discipline (measured 3x on
    # dedup_embedding). sqrt here is bit-identical to the oracles'
    # per-pair spelling, so declared results are unchanged.
    assigned = assigned.withColumn("nrm", norm("a")).localCheckpoint(
        eager=True
    )
    return assigned, trained


def _nprobe_candidates(assigned: DataFrame, trained: DataFrame) -> DataFrame:
    """(q_id, qv, q_nrm, cid): each query x its nprobe = 2 nearest cells.

    THE one definition of the probe pipeline — similarity_ivf_nprobe
    runs it and similarity_recall_ivf witnesses its recall; sharing the
    helper is what guarantees the witness measures the exact pipeline
    it certifies. The codebook ranking is a per-query window over a
    |queries| x k broadcast crossJoin — k rows per query, never
    corpus-sized.
    """
    q = _queries(assigned, "a")
    wp = Window.partitionBy("q_id").orderBy("qdist", "cid")
    return (
        q.crossJoin(F.broadcast(trained))
        .select(
            "q_id", "qv", "q_nrm", "cid", sq_dist("qv", "cv").alias("qdist")
        )
        .withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= 2)
        .select("q_id", "qv", "q_nrm", "cid")
    )


@register(
    "similarity_ivf_trained",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, a AS cv FROM pts WHERE vec_id < {_IVF_K}),
    {_duck_assign('pts', 'c0', 'a1')},
    u1 AS (SELECT a1.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a1 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a1.cid, g.i),
    c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u1 GROUP BY cid),
    {_duck_assign('pts', 'c1', 'a2')},
    q AS (SELECT a2.vec_id AS q_id, a2.cid AS q_cid, p.a AS qv
          FROM a2 JOIN pts p USING (vec_id) WHERE vec_id < 10),
    scored AS (SELECT q.q_id, a2.vec_id AS cand_id,
                      {_duck_cos('qv', 'p.a')} AS cos
               FROM q JOIN a2 ON a2.cid = q.q_cid
               JOIN pts p ON p.vec_id = a2.vec_id
               WHERE a2.vec_id <> q.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (IVF with a TRAINED k-means codebook — closes the "
    "similarity_ivf 'first 16 vectors' caveat)",
    scale="""
    similarity_ivf with the codebook actually trained: one Lloyd update
    round (fixed for determinism) wired in from iterative_kmeans_emb's
    loop — assignment is the same broadcast struct-min argmin (one
    shuffle carrying one row per point), the centroid update shuffles
    only k x 64 rows, and the trained centroids localCheckpoint to a
    k-row relation before search. Trained cells track the data
    distribution, so cell sizes (and per-query candidate counts) are far
    more balanced than the arbitrary seed-vector codebook — that balance
    IS the recall/cost win at 100 TB, where each cell becomes a disk
    partition and the worst cell bounds tail latency. Search itself is
    the identical cell-equijoin + rank-limited window as similarity_ivf.
    """,
)
def similarity_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-3 search over a k-means-trained (1 Lloyd round) codebook."""
    assigned, _ = _ivf_trained(spark, sf_dir)
    # nprobe=1: each query probes exactly its OWN trained cell, which
    # is its assigned cid — the probe relation needs no codebook rank
    q = _queries(assigned, "a", "cid")
    return _cos_top_k(_cos_scored(assigned, q, "cid", "a"), 3)


@register(
    "similarity_ivf_nprobe",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, a AS cv FROM pts WHERE vec_id < {_IVF_K}),
    {_duck_assign('pts', 'c0', 'a1')},
    u1 AS (SELECT a1.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a1 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a1.cid, g.i),
    c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u1 GROUP BY cid),
    {_duck_assign('pts', 'c1', 'a2')},
    qprobe AS (
      SELECT vec_id AS q_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {_SQDIST_DUCK.format(
                                      p='p.a', c='c.cv')}, c.cid) AS rk
        FROM pts p CROSS JOIN c1 c
        WHERE p.vec_id < 10) WHERE rk <= 2),
    scored AS (SELECT qp.q_id, a2.vec_id AS cand_id,
                      {_duck_cos('q.a', 'p.a')} AS cos
               FROM qprobe qp
               JOIN a2 ON a2.cid = qp.cid
               JOIN pts p ON p.vec_id = a2.vec_id
               JOIN pts q ON q.vec_id = qp.q_id
               WHERE a2.vec_id <> qp.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (nprobe=2 trained-IVF search — the recall/cost knob "
    "named in similarity_ivf's scale note, on the trained codebook)",
    scale="""
    The IVF recall knob, implemented: each query ranks the k-row
    trained codebook by distance and probes its TWO nearest cells
    (nprobe=2), recovering neighbors that straddle a cell boundary —
    the failure mode of nprobe=1, whose candidate set misses any true
    neighbor k-means happened to cut away from the query. The codebook
    ranking is a per-query window over a |queries| x k broadcast
    crossJoin (k rows per query, never corpus-sized); cells are
    disjoint so the nprobe union needs no dedup; candidate scoring is
    the same cell-equijoin + rank-limited window as nprobe=1, now
    reading two cells' partitions per query. At 100 TB with cells as
    disk partitions, nprobe IS the knob: candidate volume (and scan
    cost) scales linearly with it while recall climbs toward
    brute-force — tune per query class, no re-index. Everything else
    (codebook, assignment, storage) is shared verbatim with
    similarity_ivf_trained / similarity_ivf_adc.
    """,
)
def similarity_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per query probing the 2 nearest trained IVF cells."""
    assigned, trained = _ivf_trained(spark, sf_dir)
    qprobe = _nprobe_candidates(assigned, trained)
    return _cos_top_k(_cos_scored(assigned, qprobe, "cid", "a"), 3)


@register(
    "similarity_recall_ivf",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, a AS cv FROM pts WHERE vec_id < {_IVF_K}),
    {_duck_assign('pts', 'c0', 'a1')},
    u1 AS (SELECT a1.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a1 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a1.cid, g.i),
    c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u1 GROUP BY cid),
    {_duck_assign('pts', 'c1', 'a2')},
    qprobe AS (
      SELECT vec_id AS q_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {_SQDIST_DUCK.format(
                                      p='p.a', c='c.cv')}, c.cid) AS rk
        FROM pts p CROSS JOIN c1 c
        WHERE p.vec_id < 10) WHERE rk <= 2),
    approx AS (SELECT q_id, cand_id FROM (
                 SELECT qp.q_id, a2.vec_id AS cand_id,
                        row_number() OVER (PARTITION BY qp.q_id
                            ORDER BY {_duck_cos('q.a', 'p.a')} DESC,
                                     a2.vec_id) AS rk
                 FROM qprobe qp
                 JOIN a2 ON a2.cid = qp.cid
                 JOIN pts p ON p.vec_id = a2.vec_id
                 JOIN pts q ON q.vec_id = qp.q_id
                 WHERE a2.vec_id <> qp.q_id)
               WHERE rk <= 5),
    exact AS (SELECT q_id, cand_id FROM (
                SELECT q.vec_id AS q_id, e.vec_id AS cand_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_duck_cos('q.a', 'e.a')} DESC,
                                    e.vec_id) AS rk
                FROM pts q CROSS JOIN pts e
                WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
              WHERE rk <= 5)
    SELECT x.q_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1.0 ELSE 0 END)
                 / count(*), 6) AS recall
    FROM exact x LEFT JOIN approx a
      ON a.q_id = x.q_id AND a.cand_id = x.cand_id
    GROUP BY x.q_id
    """,
    survey="D3/E81 (recall@k witness for the IVF family: nprobe=2 over "
    "the trained codebook vs the exact top-5 — the same in-plan "
    "contract similarity_recall_witness declares for LSH, so both "
    "index families ship with measured recall, not a knob promise)",
    scale="""
    similarity_recall_witness's IVF sibling: identical witness shape
    (exact top-5 LEFT-joins the approx top-5 on (q_id, cand_id); the
    LEFT keeps misses as 0-hit rows), approx side = the exact
    similarity_ivf_nprobe candidate pipeline with k=5. Together the
    two witnesses turn 'nprobe/planes are recall knobs' from a scale
    note into DECLARED, oracle-checked measurements per index family
    — the eval every production deployment runs before choosing an
    index. Cost notes carry over verbatim: all real cost is the exact
    side's corpus scan, which is why the witness runs on a sampled
    query set at 100 TB.
    """,
)
def similarity_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of trained-IVF nprobe=2 vs the exact top-5.

    The approx side is the SHARED _nprobe_candidates/_cos_scored
    pipeline — the witness certifies the exact code path
    similarity_ivf_nprobe runs, by construction.
    """
    assigned, trained = _ivf_trained(spark, sf_dir)
    qprobe = _nprobe_candidates(assigned, trained)
    approx = _top_k(
        _cos_scored(assigned, qprobe, "cid", "a"), 5, F.desc("cos"), "cand_id"
    ).select("q_id", F.col("cand_id").alias("a_cand"))
    exact = _top_k(
        _cos_scored(assigned, _queries(assigned, "a"), vec="a"),
        5, F.desc("cos"), "cand_id",
    ).select("q_id", "cand_id")
    return _recall(exact, approx)


@register(
    "similarity_lsh_multiprobe",
    oracle=f"""
    WITH sig AS (SELECT vec_id, embedding,
                        {_duck_srp_bits(0, 8)} AS bucket
                 FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
          FROM sig WHERE vec_id < 10),
    probes AS (SELECT q.q_id, q.qv,
                      CASE WHEN g.i = 0 THEN q.q_bucket
                           ELSE xor(q.q_bucket, (1 << (g.i - 1))) END
                          AS probe
               FROM q CROSS JOIN generate_series(0, 8) AS g(i)),
    scored AS (SELECT p.q_id, s.vec_id AS cand_id,
                      {_duck_cos('p.qv', 's.embedding')} AS cos
               FROM probes p JOIN sig s ON s.bucket = p.probe
               WHERE s.vec_id <> p.q_id)
    SELECT q_id, cand_id, round(cos, 6) AS cos_sim, rk
    FROM (SELECT q_id, cand_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (multi-probe SRP-LSH — the recall/cost knob named in "
    "similarity_lsh's scale note)",
    scale="""
    Multi-probe LSH: each query probes its own SRP bucket PLUS the 8
    one-bit-flip neighbor buckets (the most likely homes of near
    neighbors that landed on the wrong side of one hyperplane), lifting
    recall ~nprobe-fold without re-bucketing or any model state. The
    probe fan-out happens on the BROADCAST query side only (9 rows per
    query via posexplode of a codegen'd literal array); the corpus keeps
    its single scan-time signature and the join stays a bucket equijoin
    probed map-side — at 100 TB with the bucket as a partition column,
    multi-probe reads nprobe partitions instead of one, the exact
    recall-for-IO trade the operator exists to expose. A candidate
    lives in exactly one bucket, so probes never duplicate pairs.
    """,
)
def similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors probing the query's bucket + 8 one-bit flips."""
    e, q = _lsh_queries(spark, sf_dir)
    scored = _cos_scored(e, _lsh_probes(q), F.col("bucket") == F.col("probe"))
    return _cos_top_k(scored, 3)


@register(
    "similarity_recall_witness",
    oracle=f"""
    WITH sig AS (SELECT vec_id, embedding,
                        {_duck_srp_bits(0, 8)} AS bucket
                 FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
          FROM sig WHERE vec_id < 10),
    exact AS (SELECT q_id, cand_id FROM (
                SELECT q.q_id, e.vec_id AS cand_id,
                       row_number() OVER (PARTITION BY q.q_id
                           ORDER BY {_duck_cos('qv', 'embedding')} DESC,
                                    e.vec_id) AS rk
                FROM q CROSS JOIN embeddings e
                WHERE e.vec_id <> q.q_id)
              WHERE rk <= 5),
    probes AS (SELECT q.q_id, q.qv,
                      CASE WHEN g.i = 0 THEN q.q_bucket
                           ELSE xor(q.q_bucket, (1 << (g.i - 1))) END
                          AS probe
               FROM q CROSS JOIN generate_series(0, 8) AS g(i)),
    approx AS (SELECT q_id, cand_id FROM (
                 SELECT p.q_id, s.vec_id AS cand_id,
                        row_number() OVER (PARTITION BY p.q_id
                            ORDER BY {_duck_cos('p.qv', 's.embedding')} DESC,
                                     s.vec_id) AS rk
                 FROM probes p JOIN sig s ON s.bucket = p.probe
                 WHERE s.vec_id <> p.q_id)
               WHERE rk <= 5)
    SELECT x.q_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           round(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1.0 ELSE 0 END)
                 / count(*), 6) AS recall
    FROM exact x LEFT JOIN approx a
      ON a.q_id = x.q_id AND a.cand_id = x.cand_id
    GROUP BY x.q_id
    """,
    survey="D3/E81 (recall@k witness: the approximate path's quality "
    "asserted IN-PLAN against the exact top-k — the missing production "
    "retrieval contract; the oracle checks the "
    "recall VALUES, not just that a knob exists)",
    scale="""
    The offline recall eval every production ANN deployment runs,
    expressed as one plan: exact top-5 (broadcast query side, one
    corpus scan, rank-limit window) LEFT-joined with the multi-probe
    LSH top-5 (bucket-equijoin candidates, second corpus scan) on
    (q_id, cand_id); per-query recall = hits / k. Both candidate
    relations are tiny (k rows per query), so the witness join is a
    broadcast of 50 rows — all real cost is the exact side's full
    scan, which is WHY the witness runs on a sampled query set: at
    100 TB you sample 1k queries, pay 1k broadcast-side scans of the
    corpus once, and get a recall curve before shipping the index.
    The exact side is the ground truth, so recall here is the true
    metric, not a proxy: LEFT join keeps misses as 0-hits rows (an
    approx set smaller than k just scores lower). sf0.01 measures
    multiprobe recall ~0.2-0.6/query — honest numbers for 8-plane SRP
    on 64-d synthetic vectors; the contract is the measurement, and
    nprobe/planes are the knobs the companion queries declare.
    """,
)
def similarity_recall_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of multi-probe SRP-LSH vs the exact top-5."""
    e, q = _lsh_queries(spark, sf_dir)
    exact = _top_k(
        _cos_scored(e, q.drop("q_bucket")), 5, F.desc("cos"), "cand_id"
    ).select("q_id", "cand_id")
    approx = _top_k(
        _cos_scored(e, _lsh_probes(q), F.col("bucket") == F.col("probe")),
        5, F.desc("cos"), "cand_id",
    ).select("q_id", F.col("cand_id").alias("a_cand"))
    return _recall(exact, approx)


_PQ_M = 8   # subvectors
_PQ_D = 8   # dims per subvector (M * D = 64)
_PQ_K = 4   # codes per subvector


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): each embedding exploded into its M subvectors."""
    return points(spark, sf_dir).select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice("a", m * _PQ_D + 1, _PQ_D).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(cb_m, k, cv): deterministic seed codebook = first K vectors."""
    return sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("m").alias("cb_m"),
        F.col("vec_id").alias("k"),
        F.col("sv").alias("cv"),
    )


def _pq_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, k, dmicro): nearest-codebook assignment per subvector.

    argmin as a struct-min partial aggregation (iterative.py's pattern):
    the broadcast join is narrow, the one shuffle carries a single row
    per (vector, subvector).
    """
    sq = sq_dist("sv", "cv")
    return (
        sub.join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    sq.alias("d"),
                    F.col("k"),
                    F.floor(sq * 1_000_000 + 0.5)
                    .cast("long")
                    .alias("dmicro"),
                )
            ).alias("best")
        )
        .select(
            "vec_id",
            "m",
            F.col("best.k").alias("k"),
            F.col("best.dmicro").alias("dmicro"),
        )
    )


def _pq_lut(
    sub: DataFrame, cb: DataFrame, n_queries: int | None = None
) -> DataFrame:
    """(l_q, l_m, l_k, lmicro): per-query ADC lookup table.

    THE one definition of the query-side distance table — shared by
    similarity_pq_adc (flat ADC scan) and similarity_ivf_adc (cell-probe
    + ADC re-rank), which previously carried verbatim copies of this
    block. |queries| x M x K rows, always broadcast-sized; lmicro is
    the micro-unit int64 the scoring join sums so the aggregation is
    order-independent and oracle-exact.
    """
    nq = _PQ_NQ if n_queries is None else n_queries
    lsq = sq_dist("sv", "cv")
    return (
        sub.filter(F.col("vec_id") < nq)
        .join(F.broadcast(cb), F.col("m") == F.col("cb_m"))
        .select(
            F.col("vec_id").alias("l_q"),
            F.col("m").alias("l_m"),
            F.col("k").alias("l_k"),
            F.floor(lsq * 1_000_000 + 0.5).cast("long").alias("lmicro"),
        )
    )


@register(
    "embedding_pq",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    sub AS (SELECT vec_id, g.m,
                   a[g.m * {_PQ_D} + 1 : g.m * {_PQ_D} + {_PQ_D}] AS sv
            FROM pts CROSS JOIN generate_series(0, {_PQ_M - 1}) AS g(m)),
    cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub
           WHERE vec_id < {_PQ_K}),
    assigned AS (
      SELECT vec_id, m, k, dmicro FROM (
        SELECT s.vec_id, s.m, c.k,
               CAST(floor(list_aggregate(list_transform(
                        range(1, {_PQ_D} + 1),
                        i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])),
                    'sum') * 1000000 + 0.5) AS BIGINT) AS dmicro,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY list_aggregate(list_transform(
                                      range(1, {_PQ_D} + 1),
                                      i -> (s.sv[i] - c.cv[i])
                                           * (s.sv[i] - c.cv[i])),
                                  'sum'), c.k) AS rk
        FROM sub s JOIN cb c ON c.m = s.m)
      WHERE rk = 1)
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS codes,
           round(sum(dmicro) / 1000000.0, 4) AS recon_err
    FROM assigned GROUP BY vec_id
    """,
    survey="D3 (product quantization — the ANN compression step beyond "
    "scalar quantization)",
    scale="""
    PQ: the 64-dim vector becomes 8 one-byte codes (one per 8-dim
    subvector, nearest of 4 codebook entries) — a 32x byte cut that
    makes billion-vector indexes RAM-resident; search then uses
    asymmetric distance over per-subvector lookup tables. The codebook
    here is the first 4 vectors' subvectors (deterministic seed;
    training composes exactly like similarity_ivf_trained's Lloyd
    round). Plan shape: subvector explode is a codegen slice lambda,
    assignment is the broadcast struct-min argmin (one row per
    (vector, subvector) through the single shuffle), and the
    reconstruction error aggregates int64 micro-units so the sum is
    order-independent on both engines.
    """,
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize embeddings: 8 subvector codes + reconstruction err.

    ``codes`` is the m-ordered code sequence as a ","-joined string —
    array outputs are incompatible with the driver's pandas
    canonicalizer.
    """
    sub = _pq_subvectors(spark, sf_dir)
    assigned = _pq_codes(sub, _pq_codebook(sub))
    return assigned.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("m", "k"))),
                lambda s: s.getField("k").cast("string"),
            ),
            ",",
        ).alias("codes"),
        pround(F.sum("dmicro") / 1_000_000.0, 4).alias("recon_err"),
    )


_PQ_NQ = 5  # ADC query vectors


def _adc_top_k(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, cand_id, adist, rk): the k nearest ADC distances per query."""
    return _top_k(scored, k, "admicro", "cand_id").select(
        "q_id",
        "cand_id",
        pround(F.col("admicro") / 1_000_000.0, 4).alias("adist"),
        "rk",
    )


@register(
    "similarity_pq_adc",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    sub AS (SELECT vec_id, g.m,
                   a[g.m * {_PQ_D} + 1 : g.m * {_PQ_D} + {_PQ_D}] AS sv
            FROM pts CROSS JOIN generate_series(0, {_PQ_M - 1}) AS g(m)),
    cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub
           WHERE vec_id < {_PQ_K}),
    assigned AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY list_aggregate(list_transform(
                                      range(1, {_PQ_D} + 1),
                                      i -> (s.sv[i] - c.cv[i])
                                           * (s.sv[i] - c.cv[i])),
                                  'sum'), c.k) AS rk
        FROM sub s JOIN cb c ON c.m = s.m)
      WHERE rk = 1),
    lut AS (SELECT q.vec_id AS q_id, c.m, c.k,
                   CAST(floor(list_aggregate(list_transform(
                            range(1, {_PQ_D} + 1),
                            i -> (q.sv[i] - c.cv[i])
                                 * (q.sv[i] - c.cv[i])),
                        'sum') * 1000000 + 0.5) AS BIGINT) AS lmicro
            FROM sub q JOIN cb c ON c.m = q.m
            WHERE q.vec_id < {_PQ_NQ}),
    scored AS (SELECT l.q_id, a.vec_id AS cand_id,
                      sum(l.lmicro) AS admicro
               FROM assigned a
               JOIN lut l ON l.m = a.m AND l.k = a.k
               WHERE a.vec_id <> l.q_id
               GROUP BY l.q_id, a.vec_id)
    SELECT q_id, cand_id, round(admicro / 1000000.0, 4) AS adist, rk
    FROM (SELECT q_id, cand_id, admicro,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY admicro, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (asymmetric-distance search over PQ codes — completes "
    "the embedding_pq compression with its query path)",
    scale="""
    ADC: queries never decompress the corpus — each query precomputes
    an M x K lookup table of exact subvector distances to the codebook
    (here 5 x 8 x 4 = 160 rows, broadcast), and a candidate's
    approximate distance is the sum of 8 table lookups keyed by its
    stored codes. The per-candidate work is the (m, k) equijoin against
    the broadcast LUT plus an int64 partial-aggregated sum — the
    corpus-side relation is the 8-codes table, 32x smaller than the
    raw vectors, which is why billion-vector indexes serve from RAM.
    Integer micro-unit LUT entries make the summed distance
    order-independent and oracle-exact. Per-query top-3 is a
    rank-limited window (WindowGroupLimit). In production ADC composes
    with IVF (similarity_ivf_trained): probe a cell, ADC-scan only its
    codes.
    """,
)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors per query by asymmetric distance over PQ codes."""
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_codebook(sub)
    assigned = _pq_codes(sub, cb).select("vec_id", "m", "k")
    lut = _pq_lut(sub, cb)
    scored = (
        assigned.join(
            F.broadcast(lut),
            (F.col("m") == F.col("l_m")) & (F.col("k") == F.col("l_k")),
        )
        .filter(F.col("vec_id") != F.col("l_q"))
        .groupBy(
            F.col("l_q").alias("q_id"), F.col("vec_id").alias("cand_id")
        )
        .agg(F.sum("lmicro").alias("admicro"))
    )
    return _adc_top_k(scored, 3)


@register(
    "similarity_ivf_adc",
    oracle=f"""
    WITH pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, a AS cv FROM pts WHERE vec_id < {_IVF_K}),
    {_duck_assign('pts', 'c0', 'a1')},
    u1 AS (SELECT a1.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a1 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a1.cid, g.i),
    c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u1 GROUP BY cid),
    {_duck_assign('pts', 'c1', 'a2')},
    sub AS (SELECT vec_id, g.m,
                   a[g.m * {_PQ_D} + 1 : g.m * {_PQ_D} + {_PQ_D}] AS sv
            FROM pts CROSS JOIN generate_series(0, {_PQ_M - 1}) AS g(m)),
    cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub
           WHERE vec_id < {_PQ_K}),
    codes AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY list_aggregate(list_transform(
                                      range(1, {_PQ_D} + 1),
                                      i -> (s.sv[i] - c.cv[i])
                                           * (s.sv[i] - c.cv[i])),
                                  'sum'), c.k) AS rk
        FROM sub s JOIN cb c ON c.m = s.m)
      WHERE rk = 1),
    lut AS (SELECT q.vec_id AS q_id, c.m, c.k,
                   CAST(floor(list_aggregate(list_transform(
                            range(1, {_PQ_D} + 1),
                            i -> (q.sv[i] - c.cv[i])
                                 * (q.sv[i] - c.cv[i])),
                        'sum') * 1000000 + 0.5) AS BIGINT) AS lmicro
            FROM sub q JOIN cb c ON c.m = q.m
            WHERE q.vec_id < {_PQ_NQ}),
    q AS (SELECT vec_id AS q_id, cid AS q_cid FROM a2
          WHERE vec_id < {_PQ_NQ}),
    scored AS (SELECT q.q_id, a.vec_id AS cand_id,
                      sum(l.lmicro) AS admicro
               FROM a2 a
               JOIN q ON a.cid = q.q_cid AND a.vec_id <> q.q_id
               JOIN codes c2 ON c2.vec_id = a.vec_id
               JOIN lut l ON l.q_id = q.q_id AND l.m = c2.m
                         AND l.k = c2.k
               GROUP BY q.q_id, a.vec_id)
    SELECT q_id, cand_id, round(admicro / 1000000.0, 4) AS adist, rk
    FROM (SELECT q_id, cand_id, admicro,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY admicro, cand_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D3 (composed ANN retrieval: IVF cell-probe -> PQ/ADC "
    "re-rank — the production vector-store read path as ONE plan)",
    scale="""
    The composition a real 100 TB vector store runs, declared as one
    oracle-checked plan (the corpus_curate_pipeline discipline applied
    to retrieval): similarity_ivf_trained's cells bound WHICH vectors
    are touched, similarity_pq_adc's lookup tables bound WHAT is read
    per vector. Candidate-set semantics, spelled out: candidates are
    exactly the non-self members of the query's own trained cell
    (nprobe = 1, the same set similarity_ivf_trained scores), ranked
    by ADC distance over PQ codes (NOT exact cosine — the 32x-smaller
    codes relation is the only corpus-sized input to the scoring join,
    so the raw vectors are never read after assignment). Plan: cell
    assignment and code assignment are both broadcast struct-min
    argmins (one narrow shuffle each), the 5 x 8 x 4-row LUT and the
    (q_id, q_cid) probe relation broadcast, scoring is one
    equijoin + int64 partial-aggregated sum, top-3 a rank-limited
    window. At scale the cells are disk partitions keyed by cid: the
    probe join becomes partition-prune, and the ADC scan reads only
    the probed cells' code files — recall tunes by probing the nprobe
    nearest cells, cost by the codes' byte budget, exactly the
    IVF-ADC tradeoff (Jegou et al. 2011) in Catalyst terms.
    """,
)
def similarity_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per query: probe the trained IVF cell, re-rank by ADC."""
    assigned = _ivf_trained(spark, sf_dir)[0].select("vec_id", "cid")
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_codebook(sub)
    codes = _pq_codes(sub, cb).select("vec_id", "m", "k")
    lut = _pq_lut(sub, cb)
    q = assigned.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("cid").alias("q_cid")
    )
    cand = (
        assigned.join(F.broadcast(q), F.col("cid") == F.col("q_cid"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("cand_id"))
    )
    scored = (
        cand.join(codes, F.col("cand_id") == codes.vec_id)
        .join(
            F.broadcast(lut),
            (F.col("q_id") == F.col("l_q"))
            & (F.col("m") == F.col("l_m"))
            & (F.col("k") == F.col("l_k")),
        )
        .groupBy("q_id", "cand_id")
        .agg(F.sum("lmicro").alias("admicro"))
    )
    return _adc_top_k(scored, 3)


#: SemDeDup sizes its codebook from the corpus: k = ceil(n / CELL_TARGET)
#: so cells stay bounded (~CELL_TARGET vectors) as the corpus grows —
#: a fixed k made per-cell pairs grow quadratically (measured 4.5x
#: time for 100x rows). 32 reproduces k=16 at the 500-vec small
#: fixtures.
_SEMDEDUP_CELL_TARGET = 32

#: Past this many fine centroids the O(k)-value broadcast model row
#: stops being broadcast-comfortable (~10^8-vector corpora at
#: CELL_TARGET=32) and semdedup_cells routes the fine argmin through a
#: distributed cell equi-join instead. 10^6 struct entries ~ a few
#: hundred MB broadcast.
_SEMDEDUP_BROADCAST_MAX_K = 1_000_000

#: At or below this many fine centroids the coarse routing level costs
#: more than it saves: flat argmin over all k centroids is O(n*k) =
#: n^2/32 work but at k<=256 (corpora <= ~8k vectors) that is < ~2M
#: distance evaluations — cheaper than the extra model-build stages and
#: barriers the two-level path adds (the two-level overhead only pays
#: off past sf0.1). The gate is SEMANTIC
#: (kc = 1 means assignment IS the exact flat argmin), so the oracle
#: mirrors it in the scal CTE and both engines agree at every tier;
#: 256 is safely under the measured crossover (flat was 78 s at the
#: sf1-synth tier's k~1563, fine at sf0.1's k=157).
_SEMDEDUP_FLAT_MAX_K = 256

#: The two-level corpus-scaled cell assignment as DuckDB CTEs —
#: pts -> (scal: k, kc) -> coarse/fine codebooks -> asg(vec_id, cid).
#: Shared by every oracle that blocks on semantic cells
#: (dedup_semdedup, dedup_embedding) so both engines agree on the
#: exact same cell partition. kc = 1 below the flat gate (the CASE
#: mirrors semdedup_cells): with a single coarse cell the routed
#: argmin degenerates to the exact flat argmin over all k fine
#: centroids, same (dist, cid) tie-break.
_SEMDEDUP_ASG_CTES = f"""pts AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    scal AS (SELECT k, CASE WHEN k <= {_SEMDEDUP_FLAT_MAX_K} THEN 1
                 ELSE CAST(ceil(sqrt(k)) AS BIGINT) END AS kc
             FROM (SELECT greatest(1, CAST(ceil(
                 count(*) / {_SEMDEDUP_CELL_TARGET}.0) AS BIGINT)) AS k
                   FROM pts)),
    cc AS (SELECT vec_id AS ccid, a AS ccv FROM pts
           WHERE vec_id < (SELECT kc FROM scal)),
    cf AS (SELECT vec_id AS fcid, a AS fcv FROM pts
           WHERE vec_id < (SELECT k FROM scal)),
    fasg AS (SELECT fcid, ccid, fcv FROM (
        SELECT f.fcid, c.ccid, f.fcv,
               row_number() OVER (PARTITION BY f.fcid
                   ORDER BY {_SQDIST_DUCK.format(p='f.fcv', c='c.ccv')},
                            c.ccid) AS rk
        FROM cf f CROSS JOIN cc c) WHERE rk = 1),
    pasg AS (SELECT vec_id, ccid, a FROM (
        SELECT p.vec_id, c.ccid, p.a,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY {_SQDIST_DUCK.format(p='p.a', c='c.ccv')},
                            c.ccid) AS rk
        FROM pts p CROSS JOIN cc c) WHERE rk = 1),
    asg AS (SELECT vec_id, cid FROM (
        SELECT p.vec_id, f.fcid AS cid,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY {_SQDIST_DUCK.format(p='p.a', c='f.fcv')},
                            f.fcid) AS rk
        FROM pasg p JOIN fasg f USING (ccid)) WHERE rk = 1)"""


def _assign_cells_numpy(pts: DataFrame, k: int, kc: int) -> DataFrame:
    """Arrow-batched BLAS kernel for the two-level (coarse→fine) argmin.

    At sf100 the two-level plan's WALL is not its shape (O(n·√k), zero
    corpus-sized shuffles) but the CONSTANT: a codegen
    zip_with/aggregate lambda costs a scalar loop per (point, centroid)
    pair — >25 min for ~2M vectors × ~500 centroid evals. This kernel
    runs both argmins in ONE mapInPandas stage whose batches hit BLAS
    (``P @ C.T``), scoring ``|c|² − 2·p·c`` (the ‖p‖² term is constant
    per row and cannot change an argmin).

    Tie-break parity: np.argmin returns the LOWEST index on ties, and
    both matrices are cid-row-ordered (coarse cids are 0..kc-1; each
    cell's fine array is ascending-cid), so exact-tie resolution is
    (dist asc, cid asc) — identical to the codegen struct-min and the
    oracle's ORDER BY. Float rounding differs from the codegen fold
    (matmul decomposition vs sequential (x−c)² sum), so near-ties
    inside ~1e-12 relative error could route differently — the same
    accepted-approximation class as the IVF routing itself; the
    forced-branch equality test pins kernel-vs-equi-join equality on
    the decisive-margin fixture corpora (exact duplicates tie EXACTLY
    in both and resolve by cid either way).

    Driver/broadcast cost: the k×d float64 centroid matrix (~32 MB at
    the sf100 tier's k≈62k, d=64) — strictly smaller than the k-entry
    JVM struct row the flat regime broadcasts, and the fine routing
    (k×kc matmul) is driver-trivial at any broadcastable k.
    """
    import numpy as np

    cents = (
        pts.filter(F.col("vec_id") < k).select("vec_id", "a").toPandas()
    ).sort_values("vec_id")
    C = np.stack(cents["a"].to_numpy())  # k x d, ascending-cid rows
    cids = cents["vec_id"].to_numpy()
    # coarse codebook = centroids whose ACTUAL cid < kc, matching the
    # equi-join regime's filter(vec_id < kc) and the oracle's cc CTE —
    # NOT the first kc rows, which silently diverge when vec_ids below
    # k are non-contiguous
    coarse = C[cids < kc]
    coarse_n = (coarse * coarse).sum(axis=1)
    ccid_of_fine = np.argmin(
        coarse_n[None, :] - 2.0 * (C @ coarse.T), axis=1
    )
    cells: dict[int, tuple] = {}
    for cc in np.unique(ccid_of_fine):
        idx = np.where(ccid_of_fine == cc)[0]  # ascending -> cid-sorted
        M = C[idx]
        cells[int(cc)] = (cids[idx], M, (M * M).sum(axis=1))
    bc = pts.sparkSession.sparkContext.broadcast((coarse, coarse_n, cells))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        coarse_m, cn, cell_map = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            P = np.stack(pdf["a"].to_numpy())
            cc = np.argmin(cn[None, :] - 2.0 * (P @ coarse_m.T), axis=1)
            out = np.empty(len(pdf), dtype="int64")
            for c in np.unique(cc):
                rows = np.where(cc == c)[0]
                entry = cell_map.get(int(c))
                if entry is None:
                    # unreachable: every coarse centroid is its own
                    # nearest fine centroid (d=0; exact-duplicate ties
                    # resolve to the same lower cid for centroids and
                    # points alike), so no routed-to cell is empty
                    raise RuntimeError(
                        f"semdedup numpy kernel: empty coarse cell {c}"
                    )
                fc_ids, M, fn = entry
                sel = np.argmin(fn[None, :] - 2.0 * (P[rows] @ M.T), axis=1)
                out[rows] = fc_ids[sel]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": out, "a": pdf["a"]}
            )

    return pts.mapInPandas(
        assign, schema="vec_id bigint, cid bigint, a array<double>"
    )


def semdedup_cells(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_k: int | None = None,
    flat_max_k: int | None = None,
) -> DataFrame:
    """Corpus-scaled two-level semantic cell assignment: (vec_id, cid, a).

    k = ceil(n / CELL_TARGET) fine cells (cells stay ~32 vectors at any
    corpus size), routed through a coarse codebook of ceil(sqrt(k))
    cells — O(n*sqrt(k)) work. Three physical regimes, all with the
    identical (dist asc, cid asc) tie-break:

    - k <= _SEMDEDUP_FLAT_MAX_K (flat codegen): kc = 1 and assignment
      is a FLAT argmin projection over one broadcast model row of all
      k centroids — at small k the coarse level's extra model-build
      stages cost more than the O(n*k) work they avoid. This gate is
      SEMANTIC (kc changes the partition), mirrored in the oracle's
      scal CTE so both engines agree at every tier.
    - k <= ``broadcast_max_k`` (two-level BLAS): both argmins run in one
      Arrow-batched mapInPandas stage (:func:`_assign_cells_numpy`) —
      zero corpus-sized shuffles.
    - above it (overflow equi-join): the coarse argmin stays a codegen
      projection and the fine argmin becomes a distributed cell
      EQUI-JOIN (fine-centroid relation joined on the point's coarse
      cell id, struct-min groupBy) — same kc, output-identical to the
      BLAS regime, no O(k) broadcast (a PHYSICAL-only switch).

    ``broadcast_max_k`` / ``flat_max_k`` override the gates for tests
    (forcing a regime on a small corpus); production callers leave
    them None. The returned relation is localCheckpoint'd: it is the
    partition map a production IVF stores, read by both sides of any
    downstream pair join.
    """
    import math

    limit = (
        _SEMDEDUP_BROADCAST_MAX_K if broadcast_max_k is None else broadcast_max_k
    )
    flat_limit = _SEMDEDUP_FLAT_MAX_K if flat_max_k is None else flat_max_k
    # localCheckpoint (not cache): materializes once for the count AND
    # the downstream consumers without retaining executor memory past
    # DataFrame GC
    pts = points(spark, sf_dir).localCheckpoint(eager=True)
    # k scales with the corpus so cells stay ~CELL_TARGET vectors; the
    # count is the only driver-side pull (O(1) result). Below the flat
    # gate kc = 1: the coarse level is pure overhead at small k, and a
    # single coarse cell makes routed assignment exactly the flat
    # argmin (oracle mirrors via the CASE in the scal CTE).
    k = max(1, math.ceil(pts.count() / _SEMDEDUP_CELL_TARGET))
    kc = 1 if k <= flat_limit else max(1, math.ceil(math.sqrt(k)))

    def model_row(n: int, name: str) -> DataFrame:
        # the first n vectors as ONE cid-sorted array<struct(cid, cv)> row
        entry = F.struct(F.col("vec_id").alias("cid"), F.col("a").alias("cv"))
        return pts.filter(F.col("vec_id") < n).agg(
            F.sort_array(F.collect_list(entry)).alias(name)
        )

    def arr_argmin(arr: Column) -> Column:
        # arr: array<struct(cid, cv)> -> winning cid by (dist, cid):
        # score each entry, then array_min's struct ordering is exactly
        # the (dist asc, cid asc) tie-break — single codegen pass
        scored = F.transform(
            arr,
            lambda c: F.struct(
                sq_dist(F.col("a"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
        return F.array_min(scored)["cid"]

    if kc == 1 and k <= limit:
        assigned = pts.crossJoin(F.broadcast(model_row(k, "farr"))).select(
            "vec_id", arr_argmin(F.col("farr")).alias("cid"), "a"
        )
    elif k <= limit:
        assigned = _assign_cells_numpy(pts, k, kc)
    else:
        # the k-entry model row no longer fits a broadcast; the kc =
        # sqrt(k) coarse row does, far past 10^8 vectors. Two
        # corpus-sized shuffles (join + groupBy) instead of zero.
        coarse = F.broadcast(model_row(kc, "carr"))
        fine = pts.filter(F.col("vec_id") < k).crossJoin(coarse).select(
            arr_argmin(F.col("carr")).alias("ccid"),
            F.col("vec_id").alias("cid"),
            F.col("a").alias("cv"),
        )
        routed = pts.crossJoin(coarse).select(
            "vec_id", "a", arr_argmin(F.col("carr")).alias("ccid")
        )
        assigned = _nearest(routed.join(fine, "ccid"))
    # both sides of any pair self-join read the assignment; without
    # this each side recomputes the n*sqrt(k) argmin work (the
    # materialized partition map is what a production IVF stores).
    # nrm rides along so pair stages divide by precomputed norms (once
    # per vector, not per pair — the with_norm discipline); sqrt is
    # bit-identical to the oracles' per-pair form.
    return assigned.withColumn("nrm", norm("a")).localCheckpoint(eager=True)


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH {_SEMDEDUP_ASG_CTES},
    pairs AS (
      SELECT y.cid, x.vec_id AS va, y.vec_id AS vb,
             {_duck_cos('pa.a', 'pb.a')} AS cos
      FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN pts pa ON pa.vec_id = x.vec_id
      JOIN pts pb ON pb.vec_id = y.vec_id
      WHERE {_duck_cos('pa.a', 'pb.a')} >= 0.4)
    SELECT vb AS vec_id, cid, CAST(count(*) AS BIGINT) AS n_dups,
           round(max(cos), 6) AS max_cos
    FROM pairs GROUP BY vb, cid
    """,
    survey="D2/D3 (SemDeDup: semantic dedup via k-means cells + "
    "within-cell cosine — Abbas et al. 2023, arXiv:2303.09540)",
    scale="""
    SemDeDup as a relational plan: nearest-centroid cell assignment (the
    broadcast struct-min argmin shared with similarity_ivf), then the
    near-dup self-join keyed ON THE CELL — candidate pairs are per-cell
    quadratic, never corpus quadratic, and the keep-lowest-id rule needs
    only a per-victim aggregate, not connected components. At 100 TB
    the cells come from a trained codebook (similarity_ivf_trained's
    Lloyd rounds) sized so cells fit an executor; the threshold filter
    runs on the unrounded cosine so both engines keep identical pairs.
    k GROWS with the corpus (a fixed k measured 4.5x time for 100x
    rows): k = ceil(n / 32), the one O(1)-result count pulled
    driver-side, with the oracle computing the identical k via a
    scalar subquery — cells stay ~32 vectors so the per-cell pair join
    is bounded-quadratic at ANY corpus size. Assignment has three
    regimes, all with the (dist asc, cid asc) tie-break and mirrored
    exactly in the oracle. Flat codegen (k <= 256, corpora under ~8k
    vectors): kc = 1 and assignment is one broadcast argmin projection
    — the coarse level's model-build barriers only pay off past sf0.1.
    Two-level BLAS: flat argmin goes O(n*k) = O(n^2/32) once k tracks
    n (78 s at the synthetic sf1, 41x the sf0.1 time), so a coarse
    codebook of ceil(sqrt(k)) cells routes each point to argmin over
    only its coarse cell's fine centroids — O(n*sqrt(k)) work, the
    standard IVF coarse-quantizer shape — and both argmins run in ONE
    Arrow-batched BLAS mapInPandas stage: a codegen zip_with lambda's
    per-(point, centroid) constant, not the plan shape, was the sf100
    wall at >25 min for 2M vectors; the matmul kernel runs it in 17 s,
    full query 68 s, and sf10 45 -> 4.4 s (sf1-synthetic: 78 s flat
    -> 5.9 s two-level codegen -> 2.5 s BLAS). Either way assignment
    adds zero corpus-sized shuffles and the materialized assignment
    (localCheckpoint) is the partition map a production IVF stores.
    Overflow equi-join: the BLAS regime broadcasts O(k) values, so
    past _SEMDEDUP_BROADCAST_MAX_K fine centroids (~10^8 vectors)
    semdedup_cells AUTO-SWITCHES the fine argmin to a distributed cell
    equi-join — identical output, tested equal to the BLAS kernel in
    tests/test_semdedup_scaling.py.
    Threshold 0.4 is fixture-calibrated (max within-cell cosine 0.49;
    11 victims at sf0.01) and guarded non-degenerate in test_smoke.
    The victim stage COLLAPSES exact-duplicate vectors before the pair
    work (the dedup_components discipline): cosines are
    computed once per distinct-vector group pair and per-victim
    (n_dups, max_cos) come back from running-count windows, so pair
    cost is O(members x qualifying neighbor groups), linear in
    exact-copy mass — the pairwise self-join is quadratic in it (a
    1000-replica corpus puts every copy set in one cell: C(1000,2) x
    contents pairs, the same explosion components hit). Identical
    output pinned in tests/test_semdedup_collapse.py; with no
    duplicates the group relation IS the member relation and the cost
    matches the old plan.
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: within-cell cosine >= 0.4 drops the higher id."""
    return _semdedup_victims(semdedup_cells(spark, sf_dir))


def _semdedup_victims_pairwise(assigned: DataFrame) -> DataFrame:
    """Reference semantics: the direct within-cell pair self-join.

    One row per victim vb: n_dups = #{va < vb, same cell, cos >= 0.4},
    max_cos = max such cos. Quadratic in EXACT-duplicate mass (c copies
    of one vector share a cell and contribute C(c,2) pairs), so the
    declared query routes through :func:`_semdedup_victims`; this twin
    exists only as the oracle-shaped baseline the equality tests pin
    the collapsed plan against (tests/test_semdedup_collapse.py).
    """
    x = assigned.select(
        F.col("vec_id").alias("va"), F.col("cid").alias("ca"),
        F.col("a").alias("aa"),
    )
    y = assigned.select(
        F.col("vec_id").alias("vb"), F.col("cid").alias("cb"),
        F.col("a").alias("ab"),
    )
    pairs = (
        x.join(y, (F.col("ca") == F.col("cb")) & (F.col("va") < F.col("vb")))
        .withColumn("cos", cosine("aa", "ab"))
        .filter(F.col("cos") >= 0.4)
    )
    return pairs.groupBy(
        F.col("vb").alias("vec_id"), F.col("cb").alias("cid")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        pround(F.max("cos"), 6).alias("max_cos"),
    )


def _semdedup_victims(assigned: DataFrame) -> DataFrame:
    """Per-victim (n_dups, max_cos) with exact-duplicate collapse.

    The SCALE.md production rule — ALWAYS collapse exact-duplicate mass
    before any pairwise stage (the dedup_components fix) —
    applied to semdedup: identical vectors in a cell form a GROUP
    (gid = min vec_id); cosine is computed once per ordered group pair
    (bit-identical arrays mean every copy pair's cos equals its rep
    pair's cos — and a zero vector raises the same ANSI
    DIVIDE_BY_ZERO either way), and per-victim
    counts come back from group arithmetic, never a copy-level pair
    join:

      n_dups(vb)  = sum over qualifying incoming groups A (cos(A, B(vb))
                    >= 0.4, A may equal B) of #{A-members < vb}
      max_cos(vb) = max of those groups' cos where the count is >= 1

    #{A-members < vb} is one running-count window over the cell's
    members: base rows (tag 1) are A's members, probe rows (tag 0) are
    (victim, qualifying group) pairs sorted just before any base row
    with the same id — sum(tag) over the preceding frame counts
    strictly-lower member ids, and excludes the probe's own base row
    when A == B. Work is O(members x qualifying neighbor groups +
    group-pairs) instead of O(cell^2): with no duplicates it degrades
    to exactly the pairwise plan's cost (every group is a singleton);
    with c copies per content it is linear in c where the pair join is
    quadratic (the 1000-replica tier: C(1000,2) x contents pairs, the
    dedup_components disease). Output is provably identical — pinned
    against the pairwise twin on duplicate-stressed corpora in
    tests/test_semdedup_collapse.py.
    """
    wg = Window.partitionBy("cid", "a")
    # The checkpoint stays WIDE deliberately: a "narrow" variant keeping
    # (a, nrm) on rep rows only (when(vec_id == gid, a)) was built,
    # oracle-green, and measured — sf0.1 a wash, 100-copy tier
    # consistently WORSE (wide {13.6, 12.0, 13.2, 14.0} vs narrow
    # {14.5, 14.4, 14.5, 16.0} s, four interleaved rounds): the
    # conditional array projection costs more than the checkpoint bytes
    # it saves, and the member-side consumers never decode the array
    # columns they skip anyway (columnar pruning handles that for free).
    m = assigned.select(
        "vec_id", "cid", "a", "nrm", F.min("vec_id").over(wg).alias("gid")
    ).localCheckpoint(eager=True)  # probed 3x below (members x2, reps)
    members = m.select("vec_id", "cid", "gid")
    reps = m.filter(F.col("vec_id") == F.col("gid"))
    xr = reps.select(
        F.col("cid").alias("xcid"), F.col("gid").alias("ga"),
        F.col("a").alias("aa"), F.col("nrm").alias("na"),
    )
    yr = reps.select(
        F.col("cid").alias("ycid"), F.col("gid").alias("gb"),
        F.col("a").alias("ab"), F.col("nrm").alias("nb"),
    )
    # ordered group pairs (A -> victim group B), ga == gb included: the
    # self pair carries the same-group cos (dot(a, a)/nrm², the same
    # expression a copy pair evaluates) for victims with earlier copies.
    # Norms come precomputed from the checkpoint (once per group rep,
    # not per pair), bit-identical to the oracle's per-pair sqrt.
    qp = (
        xr.join(yr, F.col("xcid") == F.col("ycid"))
        .withColumn("cos", dot("aa", "ab") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= 0.4)
        .select(F.col("xcid").alias("qcid"), "ga", "gb", "cos")
    )
    probes = members.join(
        qp,
        (members.cid == qp.qcid) & (members.gid == qp.gb),
    ).select(
        F.col("qcid").alias("cid"), "ga",
        F.col("vec_id").alias("pos_id"), F.lit(0).alias("tag"),
        F.col("vec_id").alias("vb"), "cos",
    )
    base = members.select(
        "cid", F.col("gid").alias("ga"), F.col("vec_id").alias("pos_id"),
        F.lit(1).alias("tag"), F.lit(None).cast("long").alias("vb"),
        F.lit(None).cast("double").alias("cos"),
    )
    wcnt = (
        Window.partitionBy("cid", "ga")
        .orderBy("pos_id", "tag")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = (
        base.unionByName(probes)
        .withColumn("cnt", F.sum("tag").over(wcnt))
        .filter((F.col("tag") == 0) & (F.col("cnt") >= 1))
    )
    return contrib.groupBy(
        F.col("vb").alias("vec_id"), F.col("cid")
    ).agg(
        F.sum("cnt").cast("long").alias("n_dups"),
        pround(F.max("cos"), 6).alias("max_cos"),
    )


@register(
    "dedup_embedding",
    oracle=f"""
    WITH {_SEMDEDUP_ASG_CTES},
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             {_duck_cos('pa.a', 'pb.a')} AS cos
      FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN pts pa ON pa.vec_id = x.vec_id
      JOIN pts pb ON pb.vec_id = y.vec_id)
    SELECT vec_a, vec_b, round(cos, 4) AS cos_sim
    FROM pairs WHERE cos >= 0.2
    """,
    survey="D2/D3 (embedding-cosine near-duplicate pairs, "
    "semantic-cell blocked)",
    scale="""
    Semantic near-dup pairs blocked on the CORPUS-SCALED semantic
    cell: the previous block was the 10-value label column — a FIXED block
    count, so per-block pairs grew quadratically with the corpus
    (measured 19 s at sf1-synth). The block is now semdedup_cells'
    two-level k-means cell with k = ceil(n/32), so cells hold ~32
    vectors at ANY corpus size and the pair self-join is
    bounded-quadratic per cell — the IVF-cell blocking the old scale
    note promised, implemented and shared with dedup_semdedup (both
    engines mirror the exact assignment via the shared CTE chain).
    Past broadcast limits the assignment auto-switches to the
    distributed cell equi-join; below the k=256 flat gate it is one
    flat broadcast argmin (both regimes mirrored in the oracle's
    shared CTE chain). The threshold filter runs on the
    unrounded cosine so both engines keep the identical pair set.
    Distinct from dedup_semdedup in its CONTRACT: this emits the raw
    scored pair list (vec_a, vec_b, cos_sim) for downstream policy;
    semdedup aggregates to per-victim drop decisions.
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.2) within semantic cells."""
    assigned = semdedup_cells(spark, sf_dir)
    x = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("cid").alias("ca"),
        F.col("a").alias("aa"), F.col("nrm").alias("na"),
    )
    y = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("cid").alias("cb"),
        F.col("a").alias("ab"), F.col("nrm").alias("nb"),
    )
    return (
        x.join(
            y,
            (F.col("ca") == F.col("cb")) & (F.col("vec_a") < F.col("vec_b")),
        )
        # precomputed norms from the cells checkpoint — once per vector,
        # not per pair; sqrt is bit-identical to the oracle's per-pair
        # spelling
        .withColumn("cos", dot("aa", "ab") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= 0.2)
        .select("vec_a", "vec_b", pround("cos", 4).alias("cos_sim"))
    )


_DIVERSITY_QUOTA = 4  # kept members per semantic cell


@register(
    "corpus_diversity_sample",
    oracle=f"""
    WITH {_SEMDEDUP_ASG_CTES},
    cent AS (SELECT a.cid, g.i AS dim, avg(p.a[g.i]) AS c
             FROM asg a JOIN pts p USING (vec_id)
             CROSS JOIN generate_series(1, 64) AS g(i)
             GROUP BY a.cid, g.i),
    cvx AS (SELECT cid, list(c ORDER BY dim) AS cv FROM cent GROUP BY cid),
    d AS (SELECT a.vec_id, a.cid,
                 round(sqrt(list_aggregate(list_transform(range(1, 65),
                     i -> (p.a[i] - c.cv[i]) * (p.a[i] - c.cv[i])),
                     'sum')), 4) AS dist
          FROM asg a JOIN pts p USING (vec_id) JOIN cvx c USING (cid))
    SELECT vec_id, cid, dist, rk FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY dist, vec_id) AS rk
        FROM d)
    WHERE rk <= {_DIVERSITY_QUOTA}
    """,
    survey="D3/D4 extension (embedding-cluster diversity sampling: "
    "per-semantic-cell coverage quota — the SemDeDup-companion "
    "curation pass)",
    scale="""
    Cluster-coverage sampling over the SAME corpus-scaled semantic
    cells dedup_semdedup prunes: keep the QUOTA most-central members
    of every cell (rank by distance to the cell's mean vector, vec_id
    tiebreak on the ROUNDED distance so both engines rank identically),
    guaranteeing every semantic region keeps representation while the
    sample size is bounded by quota x k — the coverage dual of
    semdedup's redundancy cut, and together they implement the
    prune-then-cover curation recipe (SemDeDup + cluster-balanced
    sampling). Plan shape: per-cell centroids are a k x 64 aggregate
    (posexplode + map-side partials), joined back on the cell id (an
    equi-join co-partitioned with the assignment, never a broadcast
    dependence — k grows with the corpus); the rank window partitions
    by cid, and cells are ~32 members BY CONSTRUCTION at any corpus
    size, so the per-partition sort is O(32 log 32) forever. All
    corpus-sized stages reuse semdedup_cells' checkpointed assignment.
    """,
)
def corpus_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-QUOTA most-central vectors per semantic cell (coverage sample)."""
    assigned = semdedup_cells(spark, sf_dir)
    cv = _mean_vectors(assigned, "cid")
    dist = F.sqrt(sq_dist("a", "cv"))
    d = assigned.join(cv, "cid").select(
        "vec_id", "cid", pround(dist, 4).alias("dist")
    )
    w = Window.partitionBy("cid").orderBy("dist", "vec_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _DIVERSITY_QUOTA)
        .select("vec_id", "cid", "dist", "rk")
    )


@register(
    "similarity_range",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10)
    SELECT q.q_id, e.vec_id AS cand_id,
           round({_duck_cos('qv', 'embedding')}, 6) AS cos_sim
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
      AND {_duck_cos('qv', 'embedding')} >= 0.33
    """,
    survey="D3 (range / epsilon-neighborhood search — the threshold dual "
    "of top-k: ALL neighbors above a similarity floor)",
    scale="""
    Same broadcast-queries / stream-candidates shape as similarity_topk
    but WITHOUT the per-query window: the threshold filter is a plain
    codegen predicate, so the plan is scan -> broadcast join -> filter
    with no shuffle at all on the candidate side — range search is
    CHEAPER than top-k at scale (no rank state), at the cost of an
    unbounded result per query. The 0.33 floor is fixture-calibrated
    (20 hits at sf0.01) and guarded non-degenerate in test_smoke; the
    threshold filters on the UNROUNDED cosine so both engines keep the
    identical hit set.
    """,
)
def similarity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All candidate vectors with cosine >= 0.33 of the 10 query vectors."""
    e = with_norm(fan_out(table(spark, sf_dir, "embeddings")))
    return (
        e.crossJoin(F.broadcast(_queries(e, "embedding")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", dot("qv", "embedding") / (F.col("q_nrm") * F.col("nrm"))
        )
        .filter(F.col("cos") >= 0.33)
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            pround("cos", 6).alias("cos_sim"),
        )
    )


def _rp_signs(k: int = 8, d: int = 64) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix, PRF-derived.

    Entry (j, i) is the parity of md5("rp:{j}:{i}") — reproducible in
    any engine/session with no RNG state (the same keyed-PRF discipline
    as agg_dp_release's Laplace draws), so builder and oracle embed the
    IDENTICAL literal matrix and the projection is bit-identical.
    """
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:8], 16)
            % 2
            == 0
            else -1
            for i in range(1, d + 1)
        ]
        for j in range(k)
    ]


_RP_SIGNS = _rp_signs()


def _duck_rp(j: int) -> str:
    """DuckDB spelling of projection dim ``j`` (same fold order as dot)."""
    lit = "[" + ", ".join(str(s) for s in _RP_SIGNS[j]) + "]"
    return (
        "list_aggregate(list_transform(range(1, 65),"
        f" i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]), 'sum')"
    )


@register(
    "embedding_rp",
    oracle=f"""
    WITH y AS (SELECT vec_id,
                      {_duck_rp(0)} AS y0,
                      {_duck_rp(3)} AS y3,
                      {_duck_rp(7)} AS y7,
                      {_duck_rp(1)} AS p1, {_duck_rp(2)} AS p2,
                      {_duck_rp(4)} AS p4, {_duck_rp(5)} AS p5,
                      {_duck_rp(6)} AS p6,
                      {_DUCK_DOT.format(a='embedding', b='embedding')} AS xx
               FROM embeddings)
    SELECT vec_id,
           round(y0, 4) + 0.0 AS y0,
           round(y3, 4) + 0.0 AS y3,
           round(y7, 4) + 0.0 AS y7,
           round((y0*y0 + p1*p1 + p2*p2 + y3*y3 + p4*p4 + p5*p5
                  + p6*p6 + y7*y7) / (8 * xx), 3) AS norm_ratio,
           (y0*y0 + p1*p1 + p2*p2 + y3*y3 + p4*p4 + p5*p5
            + p6*p6 + y7*y7) / (8 * xx) BETWEEN 0.05 AND 4.0
               AS jl_ok
    FROM y
    """,
    survey="D3 extension (Johnson-Lindenstrauss random projection — the "
    "dimensionality-reduction stage the embedding toolchain lacked: "
    "quantize/PQ compress codes, IVF/LSH bucket, RP shrinks the vector "
    "itself 64→8 dims with distance preservation witnessed in-plan)",
    scale="""
    Sparse JL projection with a PRF-derived ±1 matrix (Achlioptas 2003:
    ±1 entries preserve distances like Gaussian ones): y_j = Σ_i
    r_ji·x_i for j < 8, evaluated as zip_with/aggregate folds over a
    LITERAL sign array — pure codegen, per-row, no Python, no shuffle,
    no RNG state to ship. The matrix is a compile-time constant derived
    from md5("rp:j:i") parity, so a 1000-executor cluster needs no
    broadcast and any engine reproduces it bit-identically (the same
    keyed-PRF discipline as agg_dp_release). At 100 TB this is the map
    stage that makes downstream ANN 8x cheaper in bytes and flops;
    composing RP → IVF/PQ is the standard recipe when 64 dims is
    already too wide to index raw. The declared output keeps 3 of the
    8 projected dims (schema stays narrow) plus the JL witness: per
    vector, |y|²/(k·|x|²) has mean 1 and sd √(2/k) ≈ 0.5, so the
    in-plan bound [0.05, 4.0] (±6 sd) holds for every fixture vector
    while still falsifying a broken matrix, fold order, or scaling
    (measured at sf0.01: ratios span 0.092–3.715 over 500 vectors, all inside). Near-zero projections
    round via `+ 0.0` on both sides — the sign-safe discipline for
    informative floats (exprs.pround0).
    """,
)
def embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project embeddings 64→8 dims with a literal ±1 JL matrix."""
    from ..exprs import pround0

    e = fan_out(table(spark, sf_dir, "embeddings"))

    def proj(j: int) -> Column:
        signs = F.array(*[F.lit(float(s)) for s in _RP_SIGNS[j]])
        return dot("embedding", signs)

    y = e.select(
        "vec_id",
        *[proj(j).alias(f"p{j}") for j in range(8)],
        dot("embedding", "embedding").alias("xx"),
    )
    sumsq = None
    for j in range(8):
        term = F.col(f"p{j}") * F.col(f"p{j}")
        sumsq = term if sumsq is None else sumsq + term
    ratio = sumsq / (8 * F.col("xx"))
    return y.select(
        "vec_id",
        pround0("p0", 4).alias("y0"),
        pround0("p3", 4).alias("y3"),
        pround0("p7", 4).alias("y7"),
        pround(ratio, 3).alias("norm_ratio"),
        ((ratio >= 0.05) & (ratio <= 4.0)).alias("jl_ok"),
    )


#: E111 adaptive-refinement constant: buckets larger than _KNN_CAP are
#: split by 4 EXTRA SRP bits (_srp_bits(8, 12) — planes 8..11 of the
#: same LCG stream, so the base signature is unchanged). Refined key =
#: b8*16 + x4; an unrefined bucket keys at b8*16, and since refinement
#: is decided per-b8 the two forms never coexist within one b8 — no
#: collisions across b8 by construction.
_KNN_CAP = 128


def _knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed per-vector top-3 (src, dst, cos) over refined buckets.

    The UN-checkpointed prefix of similarity_knn_graph, split out so
    tests can pin its plan properties (WindowGroupLimit rank push, no
    cartesian) — the builder materializes it before the mutuality
    self-join, which truncates the visible lineage.
    """
    sig = (
        with_norm(fan_out(table(spark, sf_dir, "embeddings")))
        .withColumn("b8", _spark_srp_bits(0, 8))
        .withColumn("x4", _spark_srp_bits(8, 12))
        .localCheckpoint(eager=True)
    )
    sizes = sig.groupBy("b8").agg(F.count(F.lit(1)).alias("n"))
    keyed = sig.join(F.broadcast(sizes), "b8").select(
        "vec_id",
        "embedding",
        "nrm",
        (
            F.col("b8") * 16
            + F.when(F.col("n") > _KNN_CAP, F.col("x4")).otherwise(F.lit(0))
        ).alias("bucket"),
    )
    a = keyed.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("a_nrm"),
        "bucket",
    )
    b = keyed.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("b_nrm"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            (dot("av", "bv") / (F.col("a_nrm") * F.col("b_nrm"))).alias(
                "cos"
            ),
        )
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("src"),
                    F.col("b_id").alias("dst"),
                    F.col("cos"),
                ),
                F.struct(
                    F.col("b_id").alias("src"),
                    F.col("a_id").alias("dst"),
                    F.col("cos"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.cos")
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (
        edges.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("src", "dst", "cos")
    )


@register(
    "similarity_knn_graph",
    oracle=f"""
    WITH sig AS (SELECT vec_id, embedding,
                        {_duck_srp_bits(0, 8)} AS b8,
                        {_duck_srp_bits(8, 12)} AS x4
                 FROM embeddings),
    sz AS (SELECT b8, count(*) AS n FROM sig GROUP BY b8),
    keyed AS (SELECT s.vec_id, s.embedding,
                     s.b8 * 16 + CASE WHEN z.n > {_KNN_CAP} THEN s.x4
                                      ELSE 0 END AS bucket
              FROM sig s JOIN sz z ON s.b8 = z.b8),
    pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     {_duck_cos('a.embedding', 'b.embedding')} AS cos
              FROM keyed a JOIN keyed b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    edges AS (SELECT a_id AS src, b_id AS dst, cos FROM pairs
              UNION ALL
              SELECT b_id AS src, a_id AS dst, cos FROM pairs),
    ranked AS (SELECT src, dst, cos,
                      row_number() OVER (PARTITION BY src
                                         ORDER BY cos DESC, dst) AS rk
               FROM edges),
    topk AS (SELECT src, dst, cos FROM ranked WHERE rk <= 3)
    SELECT t1.src AS a, t1.dst AS b, round(t1.cos, 6) AS cos_sim
    FROM topk t1 JOIN topk t2 ON t1.src = t2.dst AND t1.dst = t2.src
    WHERE t1.src < t1.dst
    """,
    survey="E111 (mutual k-NN graph — the clustering/semantic-dedup "
    "substrate over LSH-bucketed candidates)",
    scale=f"""
    The k-NN graph every embedding-space clustering, semdedup variant
    and label-propagation pass starts from. Candidate pairs come ONLY
    from shared SRP-LSH buckets (the package rule: no all-pairs path
    exists), and buckets are ADAPTIVELY refined: any base-8-bit bucket
    larger than {_KNN_CAP} members is split by 4 extra SRP bits into 16
    sub-buckets, bounding per-bucket quadratic work without dropping
    dense regions (the dedup_minhash_capped tradeoff inverted: dense
    regions are exactly where the neighbors are, so refine rather than
    drop). Measured on the 100-copy sf10 synthetic worst case: 80 s
    flat-bucketed -> 15.4 s refined (5.2x), identical output at the
    tiers where no bucket exceeds the cap (sf0.1/sf1 edge sets
    unchanged; they pay ~1 s for the bucket-size probe). The
    bucket-size relation is |buckets| <= 256 rows at any corpus size —
    model-sized, broadcast. Directed top-3 is a WindowGroupLimit-pushed
    rank; mutuality is a self-join of the k*n top-k edge relation, NOT
    the candidate set; each undirected edge is emitted once (a < b).
    EXACT duplicates share every SRP bit at any depth, so a corpus with
    heavy exact replication should run dedup_exact/collapse first (the
    dedup_components discipline) — top-3 of a replicated vector is its
    own copies. Oracle replays identical bucketing/refinement, so the
    check is exact, not recall-based (recall vs true kNN is witnessed
    separately by similarity_recall_witness E81).
    """,
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-3 cosine graph over adaptively-refined LSH buckets.

    Without materialization the plan instantiates the scan+SRP subtree
    16 times (pair self-join x union-with-swap x mutuality self-join,
    each doubling — Spark has no cross-branch common-subplan dedup). So
    the (vec_id, embedding, nrm, b8, x4) signature relation is checkpointed
    once (one corpus pass computes the 12 SRP projections; the pair
    join reads the checkpoint from both sides), edges are symmetrized
    by a 2-way explode instead of union-with-swap (each pair's cosine
    is evaluated once, not twice), and the k*n-row directed top-k
    (:func:`_knn_graph_topk`) is checkpointed before the mutuality
    self-join. 32 scan nodes -> 1, 40 Exchanges -> 7; values
    byte-identical (same bucketing, same accumulation order — only
    subtree sharing changed).
    """
    topk = _knn_graph_topk(spark, sf_dir).localCheckpoint(eager=True)
    t2 = topk.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    )
    return (
        topk.join(
            t2,
            (F.col("src") == F.col("r_dst"))
            & (F.col("dst") == F.col("r_src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            pround("cos", 6).alias("cos_sim"),
        )
    )

"""Deduplication family (SURVEY.md §2.D D1/D2 + prompt-mandated variants).

Exact, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup
— every variant a pure DataFrame plan with an exact SQL oracle. Hash
discipline: the only string hash is md5 (identical in Spark and DuckDB);
no engine-specific integer hash (murmur/xxhash differ across engines)
ever enters a declared result. MinHash "permutations" are a universal
hash family over ONE md5 per shingle — h_i(x) = (a_i * n(x) + b_i) mod P
with n(x) the first 60 bits of md5 — because 16 separate salted md5
calls were the dominant signature cost (measured 3x at sf0.1) and the
integer arithmetic is exact in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, table
from ..exprs import fold_lower, fold_upper, pround
from ..registry import REGISTRY, register

#: number of MinHash permutations and LSH banding layout
_SEEDS = 16
_BANDS = 4
_ROWS_PER_BAND = _SEEDS // _BANDS

#: universal-hash family constants: h_i(n) = (A[i] * n + B[i]) mod P.
#: P is the Mersenne prime 2^31-1; products stay under 2^62, so the
#: arithmetic is exact int64 in Spark AND DuckDB (no hugeint promotion).
_P = 2147483647
_A = [1103515245 + 2 * i for i in range(_SEEDS)]
_B = [12345 + 7919 * i for i in range(_SEEDS)]

#: DuckDB spelling of n(x): first 15 md5 hex chars as a 60-bit integer,
#: reduced mod P. Spark twin: conv(substring(md5(sh),1,15),16,10).
_DUCK_N = "(('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647)"
_DUCK_A = "[" + ", ".join(str(a) for a in _A) + "]"
_DUCK_B = "[" + ", ".join(str(b) for b in _B) + "]"


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh) — k-word shingles via a higher-order sequence transform.

    No self-join, no window: the shingle array is built inside codegen from
    the split array, then exploded once. The words array is projected as an
    explicit column FIRST so codegen evaluates split() once per row —
    inlining it into the lambda re-splits the text per element (measured
    6x slower at sf0.1).
    """
    sh = F.expr(
        f"transform(sequence(1, size(ws) - {k - 1}),"
        f" i -> concat_ws(' ', "
        + ", ".join(f"element_at(ws, i + {j})" for j in range(k))
        + "))"
    )
    # guard BEFORE building the sequence: sequence(1, n) with n < 1 would
    # count downward in Spark, not return empty
    return (
        fan_out(docs).select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= k)
        .select("doc_id", F.explode(sh).alias("sh"))
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS h,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))
    """,
    survey="D1",
    scale="""
    Exact dedup = groupBy on a 128-bit content hash: the shuffle carries
    (16-byte hash, id), never the text. At 100 TB: hash at scan time,
    partial-aggregate map-side; survivors rejoin the corpus by id. The
    equivalent one-liner is dropDuplicates on the hash — this form also
    reports cluster sizes.
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate clustering on normalized text hash."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(_exact_key().alias("h")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _exact_key() -> Column:
    """The exact-dedup content key: md5 of the trimmed, ASCII-folded text."""
    return F.md5(fold_lower(F.trim(F.col("text"))))


def exact_survivors(docs: DataFrame) -> DataFrame:
    """The rows of ``docs`` that survive exact dedup: the lowest doc_id
    per :func:`_exact_key` (dedup_exact's ``keep_id``)."""
    keep = docs.groupBy(_exact_key().alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return docs.join(keep.select("doc_id"), "doc_id", "semi")


@register(
    "dedup_minhash",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   min(({_DUCK_A}[seed + 1] * {_DUCK_N}
                        + {_DUCK_B}[seed + 1]) % 2147483647) AS minhash
            FROM sh CROSS JOIN generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed)
    SELECT doc_id, seed, minhash FROM sig
    """,
    survey="D2 (MinHash signatures)",
    scale="""
    Signature build: shingle explode -> per-(doc, seed) min — one
    partial-aggregated groupBy; the "permutations" are a universal hash
    family over ONE md5 per shingle (16 salted md5 calls were 3x slower,
    measured at sf0.1) and need no shared state. Output is 16 rows/doc
    regardless of document size, so downstream LSH banding touches
    signatures, never text. At 100 TB use 128 seeds and pivot to an
    array column to cut row count.
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: min universal-hash(shingle) per doc per seed.

    Plan: one md5 per (doc, shingle) instance parsed to a 60-bit int, 16
    affine mixes of it inside codegen, per-column mins in ONE aggregation
    pass, posexplode to the long signature format. No distinct() first:
    min is idempotent over duplicate shingles and the map-side partial
    aggregation collapses them for free, so a pre-dedup would only add a
    full extra shuffle of the widest intermediate.
    """
    return _sig_wide(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(_SEEDS)])
        ).alias("seed", "minhash"),
    )


def _sig_wide(d: DataFrame) -> DataFrame:
    """(doc_id, h0..h15): one row per doc, minhash per seed as columns."""
    sh_sets = shingles(d)
    n = F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long") % _P
    hs = F.array(
        *[(F.lit(_A[i]) * n + F.lit(_B[i])) % _P for i in range(_SEEDS)]
    )
    return (
        sh_sets.select("doc_id", hs.alias("hs"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.element_at("hs", i + 1)).alias(f"h{i}")
                for i in range(_SEEDS)
            ]
        )
    )


def _bands_of(sig_wide: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) derived from the WIDE signature row by a
    pure projection — the seed-ordered minhashes of band b are columns
    h_{4b}..h_{4b+3}, so the band key (md5 of their ','-joined decimal
    strings, the oracle's ``string_agg ... ORDER BY seed``) needs no
    groupBy and no per-group sort."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * _ROWS_PER_BAND + j}").cast("string")
                            for j in range(_ROWS_PER_BAND)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(_BANDS)
        ]
    )
    return sig_wide.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


@register(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   min(({_DUCK_A}[seed + 1] * {_DUCK_N}
                        + {_DUCK_B}[seed + 1]) % 2147483647) AS minhash
            FROM sh CROSS JOIN generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ','
                                    ORDER BY seed)) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    ssets AS (SELECT doc_id, sh FROM sh GROUP BY doc_id, sh),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             count(sb.sh) AS inter_n,
             any_value(na.n) + any_value(nb.n) - count(sb.sh) AS union_n
      FROM cand c
      JOIN ssets sa ON sa.doc_id = c.doc_a
      LEFT JOIN ssets sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) na
        ON na.doc_id = c.doc_a
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) nb
        ON nb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b,
           round(inter_n * 1.0 / union_n, 4) AS jaccard
    FROM verified
    WHERE inter_n * 1.0 / union_n >= 0.5
    """,
    survey="D2 (MinHash + LSH banding + pair verification)",
    scale="""
    Full near-dup pipeline: band signatures (4 bands x 4 rows) -> join on
    band_key buckets candidates (the LSH step: only same-bucket pairs are
    compared, never all pairs) -> exact Jaccard verify on shingle sets for
    candidates only. At 100 TB the band join is the only shuffle touching
    all docs, and its key is a 16-byte hash; skewed buckets (boilerplate
    docs) are AQE-split, and a bucket-size cap (drop buckets > B members
    as boilerplate) bounds the quadratic verify stage. Exact-copy mass
    is collapsed to one representative per distinct text BEFORE the LSH
    pipeline and results expand back through the family relation
    (identical text => identical signatures => identical buckets and
    Jaccard, so expansion is verbatim; within-family pairs are emitted
    directly at 1.0, shingle-less (<3-word) families excluded exactly as
    the uncapped pipeline excludes them — pinned against the uncollapsed
    pipeline in tests/test_similarity_joins.py). On the 10-copy tier
    this cut the query from 9.7 s to output-bound; the residual
    quadratic is NEAR-dup mass, the documented contract.
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded candidate pairs verified by exact shingle Jaccard,
    exact-copy mass collapsed first (provably lossless)."""
    fam, reps = _content_families(table(spark, sf_dir, "documents"))
    arr = _hset_arrays(reps).localCheckpoint(eager=True)
    return _expand_families(_lsh_pairs_sets(arr), fam, eligible=_shingled(reps))


def _shingled(docs: DataFrame) -> DataFrame:
    """The rows of ``docs`` whose text has at least one 3-word shingle.

    Only these contents pair in the shingle pipelines: a <3-word text
    has no shingles, hence no signature, bucket or pair, so its exact
    copies stay isolated in the direct pipeline too."""
    return docs.filter(F.size(F.split("text", " ")) >= 3)


def _lsh_candidates(bands_a: DataFrame, bands_b: DataFrame | None = None):
    """Distinct (doc_a, doc_b) candidates from band-key agreement.

    The one definition of the LSH candidate join, so a banding or
    inequality change cannot decalibrate one pipeline against another.
    Self-join form (``bands_b`` None) emits each unordered
    pair once via doc_a < doc_b; the two-relation form (batch vs
    corpus index) emits every cross agreement.
    """
    if bands_b is None:
        b = bands_a.alias("b")
        extra = F.col("a.doc_id") < F.col("b.doc_id")
    else:
        b = bands_b.alias("b")
        extra = F.lit(True)
    return (
        bands_a.alias("a")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & extra,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _verify_pairs(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (RAW-corpus form):
    the pairs of ``docs`` with Jaccard >= 0.5.

    One definition of the verify discipline: shingle TEXT never enters the
    verify shuffles — hash to md5 at the scan (the dedup_substring
    discipline) so every consumer moves 16-byte keys; counts are
    unchanged (same md5 on both engines, and the oracle's text-keyed
    join counts the identical pairs). The ssets/sizes join inputs carry
    MERGE hints — the dual of the bounded-only broadcast policy
    (SCALE.md): these relations scale with the corpus, and on a
    heavily-compressed corpus (boilerplate, replicas — zstd hits
    ~1000:1 on the 1000-copy synthetic tier) the STATIC size estimate,
    derived from parquet file bytes, is small enough that the planner
    picks a broadcast build of a corpus-scaled relation and funnels GBs
    through the driver (measured: heap OOM / maxResultSize aborts at
    that tier). A merge hint pins the strategy that is correct at every
    size; eagerly checkpointing ssets for honest stats was tried first
    and OOM'd outright — it materializes a corpus x shingles relation
    to fix a stats lie. The COLLAPSED paths (exact-duplicate mass
    already bounded) verify through :func:`_verify_pairs_sets` instead,
    whose per-doc set arrays this raw form must never materialize.

    ``na`` is FREE in the intersection aggregation — the sa join
    explodes each candidate pair by ALL of a's shingles and the sb side
    is distinct per (doc_id, h), so count(*) per (doc_a, doc_b) group IS
    a's set size. That removes one of the two sizes joins (and one whole
    ssets subtree instance) from every verify plan.
    """
    ssets = (
        shingles(docs).select("doc_id", F.md5("sh").alias("h")).distinct()
    )
    sizes = ssets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(
            ssets.alias("sa").hint("merge"),
            F.col("sa.doc_id") == F.col("doc_a"),
        )
        .join(
            ssets.alias("sb").hint("merge"),
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.h") == F.col("sa.h")),
            "left",
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.col("sb.h")).alias("inter_n"),
            F.count(F.lit(1)).alias("na"),
        )
    )
    verified = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ).hint("merge"),
            "doc_b",
        )
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter_n"))
        .withColumn("jac", F.col("inter_n") * 1.0 / F.col("union_n"))
    )
    return verified.filter(F.col("jac") >= 0.5).select(
        "doc_a", "doc_b", pround("jac", 4).alias("jaccard")
    )


def _hset_arrays(docs: DataFrame) -> DataFrame:
    """Per-doc distinct shingle-hash SET as one array row: (doc_id, hs).

    ONE partial-aggregated shuffle — ``collect_set`` dedups map-side and
    ships each doc's set once — and the row count drops from
    |doc x shingle| to |doc|, so every verify-stage join over this
    relation moves ONE array row per pair side instead of exploding a
    shingle row per set element. COLLAPSED paths only: the relation is
    bounded by distinct-content mass; over a replica-heavy raw corpus
    materializing it is the OOM `_verify_pairs`' docstring records. Element order is whatever the
    aggregation produced — every consumer (array_min of a transform,
    array_intersect, size) is order-insensitive, so no sort is paid.
    """
    return (
        shingles(docs)
        .select("doc_id", F.md5("sh").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"))
    )


def _sig_wide_from_sets(arr: DataFrame) -> DataFrame:
    """Wide signature as a pure PROJECTION over the per-doc set arrays.

    min is idempotent, so the per-(doc, seed) minimum over the distinct
    shingle-hash set equals the minimum over the raw shingle multiset —
    the signatures are identical to ``_sig_wide(docs)``, but with the
    sets already one array per doc there is NO aggregation here at all:
    parse each element to its 60-bit int once (one transform), then 16
    ``array_min`` folds — zero exchanges."""
    ns = F.transform(
        "hs",
        lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _P,
    )
    row = arr.select("doc_id", ns.alias("ns"))
    return row.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    "ns", lambda x: (F.lit(_A[i]) * x + F.lit(_B[i])) % _P
                )
            ).alias(f"h{i}")
            for i in range(_SEEDS)
        ],
    )


def _verify_pairs_sets(
    cand: DataFrame,
    arr_a: DataFrame,
    arr_b: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification over per-doc set ARRAYS (collapsed form).

    The row form (:func:`_verify_pairs`) explodes each candidate pair by
    all of a's shingles through two merge joins, a (doc_a, doc_b) hash
    aggregation and a sizes join; with the sets held as one array per
    doc the same exact numbers are two equi-joins and a codegen
    projection — ``size(array_intersect(ha, hb))`` is the intersection
    count, array sizes are the set sizes, and the union follows by
    inclusion-exclusion. Identical output (same md5 element domain,
    same unrounded threshold filter, same pround). ``arr_b`` None =
    self-join form.
    """
    a = arr_a.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    b = (arr_a if arr_b is None else arr_b).select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")
    )
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter_n", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jac",
            F.col("inter_n")
            * 1.0
            / (F.size("ha") + F.size("hb") - F.col("inter_n")),
        )
    )
    return scored.filter(F.col("jac") >= threshold).select(
        "doc_a", "doc_b", pround("jac", 4).alias("jaccard")
    )


def _lsh_pairs_sets(
    arr_a: DataFrame,
    arr_b: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH pairs over checkpointed per-doc set arrays (collapsed form).

    Signatures and band keys are pure projections over the arrays, the
    candidate join moves 16-byte band keys, and the verify is
    :func:`_verify_pairs_sets`. ``arr_b`` None = self-join form; the
    two-relation form is the batch-vs-corpus probe. Bands are
    checkpointed so the candidate join reads a materialized relation of
    16-byte keys instead of replaying the signature projection per side.
    """
    def bands(arr: DataFrame) -> DataFrame:
        return _bands_of(_sig_wide_from_sets(arr)).localCheckpoint(eager=True)

    cand = _lsh_candidates(bands(arr_a), None if arr_b is None else bands(arr_b))
    return _verify_pairs_sets(cand, arr_a, arr_b, threshold)


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> DataFrame:
    """The LSH pipeline over the RAW corpus; ``cap`` drops buckets with
    more members (boilerplate guard — see dedup_minhash_capped).

    The uncollapsed reference the tests pin the collapsed builders
    against. It keeps the lazy row-form verify: materializing set
    arrays over a replica-heavy corpus is the OOM the _verify_pairs
    docstring records.
    """
    d = table(spark, sf_dir, "documents")
    # both sides of the bucket self-join read bands: materialize the
    # narrow (doc, band, 16-byte key) relation once
    bands = _bands_of(_sig_wide(d)).localCheckpoint(eager=True)
    if cap is not None:
        from pyspark.sql.window import Window

        bands = (
            bands.withColumn(
                "_bc",
                F.count(F.lit(1)).over(
                    Window.partitionBy("band", "band_key")
                ),
            )
            .filter(F.col("_bc") <= cap)
            .drop("_bc")
        )
    return _verify_pairs(_lsh_candidates(bands), d)


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, b,
             sum(tf * (2 * ((CAST(floor(
                     (strpos('0123456789abcdef',
                             substr(md5(w), 1 + b // 4, 1)) - 1)
                     / power(2, b % 4)) AS INT)) % 2) - 1)) AS s
      FROM tf CROSS JOIN generate_series(0, 15) AS g(b)
      GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0
                         THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    survey="D2 (SimHash fingerprints)",
    scale="""
    SimHash: tf-weighted +/-1 vote per hash bit, sign -> fingerprint.
    Two partial-aggregated groupBys; the 16x bit fanout multiplies the
    (doc, word) relation, not the corpus. Near-dup candidates then come
    from grouping on fingerprint prefixes (hamming-ball blocking) —
    constant-size state per doc, no pairwise stage until blocked.
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit tf-weighted SimHash fingerprint per document."""
    return _simhash_fps(spark, table(spark, sf_dir, "documents"))


def _simhash_fps(spark: SparkSession, d: DataFrame) -> DataFrame:
    """The SimHash pipeline over an arbitrary docs relation.

    SimHash is a function of each doc's own text alone, so the
    collapsed blocked pipelines call this over REPRESENTATIVES only —
    fingerprinting the full corpus and semi-joining down afterwards is
    exact but wastes the dominant cost at replica-heavy tiers (the
    tf x 16-bit vote expansion is ~#tokens x 16 rows; measured: the
    1000-copy tier stalled >30 min in full-corpus fingerprinting while
    the rep-only minhash twin finished in 39 s)."""
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    bits_dim = F.broadcast(
        spark.range(16).select(F.col("id").cast("int").alias("b"))
    )
    # bit b of the word's 16-bit md5 prefix, built from hex chars so the
    # arithmetic is engine-portable (no murmur/xxhash)
    bit = F.expr(
        "cast(floor((instr('0123456789abcdef',"
        " substring(md5(w), 1 + cast(b / 4 as int), 1)) - 1)"
        " / power(2, b % 4)) as int) % 2"
    )
    votes = (
        tf.join(bits_dim)
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("tf") * (2 * bit - 1)).alias("s"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.pow(F.lit(2), F.col("b")).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("simhash")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, b,
             sum(tf * (2 * ((CAST(floor(
                     (strpos('0123456789abcdef',
                             substr(md5(w), 1 + b // 4, 1)) - 1)
                     / power(2, b % 4)) AS INT)) % 2) - 1)) AS s
      FROM tf CROSS JOIN generate_series(0, 15) AS g(b)
      GROUP BY doc_id, b),
    fp AS (SELECT doc_id,
                  CAST(sum(CASE WHEN s > 0
                                THEN CAST(power(2, b) AS BIGINT)
                                ELSE 0 END) AS BIGINT) // 256 AS blk
           FROM bits GROUP BY doc_id),
    meta AS (SELECT d.doc_id, d.lang, d.source, fp.blk
             FROM documents d JOIN fp ON fp.doc_id = d.doc_id),
    probes AS (SELECT doc_id, lang, source,
                      CASE WHEN g.i = 0 THEN blk
                           ELSE xor(blk, (1 << (g.i - 1))) END AS probe
               FROM meta CROSS JOIN generate_series(0, 8) AS g(i)),
    wsets AS (SELECT DISTINCT doc_id, w FROM tok),
    sizes AS (SELECT doc_id, count(*) AS n FROM wsets GROUP BY doc_id),
    wa AS (SELECT p.doc_id, p.lang, p.source, p.probe, ws.w
           FROM probes p JOIN wsets ws ON ws.doc_id = p.doc_id),
    wb AS (SELECT m.doc_id, m.lang, m.source, m.blk, ws.w
           FROM meta m JOIN wsets ws ON ws.doc_id = m.doc_id),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
      FROM wa a JOIN wb b
        ON a.lang = b.lang AND a.source = b.source AND a.probe = b.blk
       AND a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(inter_n * 1.0 / (na.n + nb.n - inter_n), 4) AS jaccard
    FROM pair_inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE inter_n * 1.0 / (na.n + nb.n - inter_n) >= 0.9
    """,
    survey="D2 (blocked n-gram Jaccard, content-derived sub-blocking "
    "with 1-bit multiprobe)",
    scale="""
    Word-set Jaccard with BOUNDED blocking: the block is (lang, source,
    simhash-top-8-bits). The previous (lang, source) key alone is a
    FIXED block count, so per-block membership — and the pair join —
    grew quadratically with the corpus (measured 19 s at sf1-synth);
    the content-derived simhash prefix splits each metadata block by
    what documents SAY, so replicated boilerplate spreads only if its
    content differs and per-block pairs track true near-dup density
    (output-bound, like dedup_ngram_jaccard_simblocked measured). The
    pair join is keyed on (block, word) — intersection counts come out
    of one groupBy, no array materialization. RECALL: a 0.9-Jaccard
    pair differing in one top-8 simhash bit is recovered by 1-bit
    MULTIPROBE (one side expands to its 8 single-bit-flip neighbor
    blocks + itself — a bounded 9x constant, the similarity_lsh_
    multiprobe pattern); hamming>=2 prefix flips are missed, the
    standard LSH trade. The per-doc fingerprint relation is
    checkpointed once and joined without a broadcast hint (AQE decides;
    it is corpus-sized at 100 TB). Distinct from the _simblocked twin,
    which drops the metadata key entirely: this query keeps the
    (lang, source) dedup POLICY boundary and sub-splits it. Exact-copy
    mass collapses BEFORE the block pair join — on the (text, lang,
    source) family key, NOT text alone, because metadata participates
    in the block key and two identical texts with different metadata
    are deliberately NOT interchangeable here (pinned in tests).
    Uncollapsed, the sf10 full-registry sweep recorded candidate-verify
    spill filling the disk after 408 s at 100 copies; collapsed, the
    pair join is distinct-(text,metadata)-sized and replica output is
    expansion-bound.
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard pairs within (lang, source, simhash/256) blocks,
    with 1-bit multiprobe — exact-copy mass collapsed first on the
    (text, lang, source) family key (metadata participates in the block
    key, so only full-key-identical docs are interchangeable)."""
    fam, reps = _content_families(
        table(spark, sf_dir, "documents"), metadata_cols=("lang", "source")
    )
    return _expand_families(_ngram_jaccard_pairs(spark, sf_dir, reps), fam)


def _ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The (lang, source, simhash/256)-blocked multiprobe pipeline over
    ``docs`` (default: full corpus — the uncollapsed form the tests pin
    the collapsed builder against).

    The per-doc (doc_id, lang, source, blk) relation is checkpointed:
    its two consumers (probes, b side) would each replay the corpus
    scan and the fingerprint join. The word-set explode is NOT
    checkpointed — it is |doc x distinct words|-sized, and
    materializing it cost a consistent ~20% at sf0.1 (~45% on the
    simblocked twin) where the narrow re-explode is codegen-cheap.
    """
    d = table(spark, sf_dir, "documents") if docs is None else docs
    meta = (
        d.select("doc_id", "lang", "source")
        .join(_simhash_blocks(spark, d), "doc_id")
        .localCheckpoint(eager=True)
    )
    probe_dim = F.broadcast(
        spark.range(9).select(F.col("id").cast("int").alias("i"))
    )
    probes = meta.join(probe_dim).select(
        "doc_id",
        "lang",
        "source",
        F.when(F.col("i") == 0, F.col("blk"))
        .otherwise(F.col("blk").bitwiseXOR(F.expr("shiftleft(1L, i - 1)")))
        .alias("blk"),
    )
    return _word_jaccard(d, probes, meta)


def _simhash_blocks(spark: SparkSession, d: DataFrame) -> DataFrame:
    """(doc_id, blk): the top 8 bits of each doc's 16-bit SimHash.

    Checkpointed once: every block-join side reads it. SimHash is a
    function of each doc's own text, so fingerprinting ``d`` directly
    (representatives, when collapsed) is exact and skips the
    replica-scaled tf x 16-bit vote expansion. Joined without a
    broadcast hint: it is per-doc (unbounded at scale), so AQE chooses
    from the measured size."""
    return (
        _simhash_fps(spark, d)
        .select("doc_id", F.expr("simhash div 256").alias("blk"))
        .localCheckpoint(eager=True)
    )


def _word_jaccard(
    d: DataFrame, probes: DataFrame, blocks: DataFrame
) -> DataFrame:
    """(doc_a, doc_b, jaccard) word-set pairs with Jaccard >= 0.9.

    ``blocks`` is (doc_id, *keys); ``probes`` has the same columns and
    may hold several key rows per doc (multiprobe). A pair is scored
    when a's probe keys equal b's block keys and doc_a < doc_b. The
    pair join is keyed on (keys, word), so intersection counts come out
    of one groupBy with no array materialization.
    """
    wsets = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    keys = [c for c in blocks.columns if c != "doc_id"] + ["w"]
    a = probes.join(wsets, "doc_id").alias("a")
    b = blocks.join(wsets, "doc_id").alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    inter = (
        a.join(b, on + [F.col("a.doc_id") < F.col("b.doc_id")])
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    sizes = wsets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jac",
            F.col("inter_n") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter_n")),
        )
    )
    return scored.filter(F.col("jac") >= 0.9).select(
        "doc_a", "doc_b", pround("jac", 4).alias("jaccard")
    )


def _collapsed_parts(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Connectivity-equivalent edges with exact-duplicate mass collapsed.

    Returns ``(rep_pairs, star)``: the near-dup pair edges over content
    REPRESENTATIVES, and the rep->copy star edges reconnecting exact
    copies. Their union has the same components as the uncapped pair
    graph. They stay un-unioned so :func:`component_labels` can
    propagate labels over the rep graph ONLY and extend to copies with
    one join instead of dragging the star edges through every
    propagation round. Both come from the one collapse every dedup
    query shares (:func:`_content_families`).

    ``docs``: run over an arbitrary (doc_id, text) frame instead of the
    documents table — the composed curation pipeline passes its
    quality-filtered survivor set.

    Exact copies (identical RAW text — no normalization, matching the
    shingle pipeline's input) are guaranteed pairwise-connected by the
    uncapped LSH pipeline: identical text => identical shingle set =>
    identical band keys (co-bucketed in every band) and exact Jaccard
    1.0 >= the 0.5 verify threshold. For COMPONENT purposes the C(c,2)
    intra-copy pairs per content and the c_a*c_b cross-copy pairs per
    near-dup content pair are therefore redundant: run the pair pipeline
    over ONE representative per distinct content (min doc_id) and
    reconnect copies with rep->copy star edges. Components are identical
    (pinned by unit test against the uncapped graph), and edge count
    drops from quadratic in the duplicate mass to linear + one pair per
    near-dup CONTENT pair — at the sf10 synthetic tier (100 exact
    replicas of every doc) this is the difference between a 602 s
    quadratic edge materialization and ~sf1 cost.

    Edge case: docs with < 3 words produce NO shingles, hence no
    signature, no bucket, and no pairs — they are isolated in the true
    graph even when exact copies exist, so star edges exclude them
    (:func:`_shingled`). NULL-text docs are singleton families
    (:func:`_content_families`) and so emit no edge at all.

    Cost: one corpus shuffle keyed by the 16-byte content hash (the
    dedup_exact shape) before the pair pipeline sees only distinct
    contents.
    """
    d = table(spark, sf_dir, "documents") if docs is None else docs
    fam, reps = _content_families(d)
    arr = _hset_arrays(reps).localCheckpoint(eager=True)
    star = _shingled(fam.filter(F.col("doc_id") != F.col("rep"))).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    return _lsh_pairs_sets(arr).select("doc_a", "doc_b"), star


def component_labels(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    label_fn=None,
) -> DataFrame:
    """(doc_id, lbl) component labels of the collapsed near-dup graph.

    Exactly the labeling ``label_fn`` (default
    :func:`propagate_min_labels`; :func:`star_components` for the
    alternating-star builder — both share the (doc_id, lbl) = (node,
    component-min) contract) produces over the union of
    :func:`_collapsed_parts`
    (lbl = min doc_id of the component, one row per graph NODE — docs
    in no edge are absent and consumers coalesce to doc_id), computed
    cheaper:

    - Propagation runs over the REP pair graph only. Star copies never
      enter the loop: a copy's label is its rep's label (rep = min
      doc_id of its content group, so component minima live on reps),
      attached afterwards by a single equi-join on rep. This removes
      the star edges from every round AND the extra round the rep->copy
      hop used to cost.
    - The symmetric edge list is built by a 2-way explode of the pair
      relation, not a union of it with its swap: a union's two branches
      each re-run the whole LSH verify subtree when the cache
      materializes (Spark has no cross-branch common-subplan dedup), so
      the explode halves the pair-pipeline work behind the cache.
    - The three output slices — pair-graph reps, star copies, star reps
      outside the pair graph — are DISJOINT by construction (a copy is
      never a rep; a star rep lands in rep_lbl or in the anti-join
      slice, never both), so they union without a node-level
      min-groupBy shuffle to collapse overlaps.

    Recomputed per call: every query invocation computes from the
    parquet inputs (no cross-query memo — a timed bench run pays the
    full fixpoint). At 100 TB the labeling is a persisted artifact
    consumers read, maintained incrementally per ingest batch — never
    recomputed per downstream query.

    Checkpoint dependency: ``star`` is consumed TWICE below (copies and
    lone_reps) and is cheap only because it is a filter over the family
    relation :func:`_content_families` localCheckpoints — a refactor
    that drops that checkpoint would silently replay the exact-dedup
    subtree once per star consumer.
    """
    rep_pairs, star = _collapsed_parts(spark, sf_dir, docs)
    sym = (
        rep_pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_a", "e.doc_b")
        .cache()
    )
    rep_lbl = (label_fn or propagate_min_labels)(sym)
    sym.unpersist()
    # Star copies: one equi-join on rep; coalesce covers components
    # whose rep has copies but no near-dup pairs (isolated star).
    copies = (
        star.select(
            F.col("doc_a").alias("rep"), F.col("doc_b").alias("doc_id")
        )
        .join(rep_lbl.select(F.col("doc_id").alias("rep"), "lbl"), "rep", "left")
        .select("doc_id", F.coalesce("lbl", F.col("rep")).alias("lbl"))
    )
    # Star reps absent from the pair graph label themselves.
    lone_reps = (
        star.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .join(rep_lbl.select("doc_id"), "doc_id", "anti")
        .select("doc_id", F.col("doc_id").alias("lbl"))
    )
    return (
        rep_lbl.select("doc_id", "lbl")
        .unionByName(copies)
        .unionByName(lone_reps)
        .localCheckpoint(eager=True)
    )


def _pairs_cte() -> str:
    """The dedup_minhash_pairs oracle, re-usable as a CTE body."""
    sql = REGISTRY["dedup_minhash_pairs"].oracle
    # strip the leading WITH so it can be spliced into another WITH chain
    return sql.strip().removeprefix("WITH ")


def _reach_ctes() -> str:
    """WITH RECURSIVE prefix ending in ``comp (doc_id, lbl)``.

    pair_rows -> symmetric edges -> recursive min-label reach -> comp:
    every edge-connected doc with its component label (min doc_id of
    the component). ONE definition of the component fixpoint, shared by
    the dedup_components / dedup_components_star / dedup_soft_weights
    oracles so they can never replay different graphs.
    """
    pair_rows = _pairs_cte().replace(
        "SELECT doc_a, doc_b,", ", pair_rows AS (SELECT doc_a, doc_b,"
    ).replace(
        "WHERE inter_n * 1.0 / union_n >= 0.5",
        "WHERE inter_n * 1.0 / union_n >= 0.5)",
    )
    return f"""WITH RECURSIVE {pair_rows},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pair_rows
        UNION ALL
        SELECT doc_b, doc_a FROM pair_rows
    ),
    reach(doc_id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
        WHERE r.lbl < e.dst
    ),
    comp AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY doc_id)"""


def propagate_min_labels(sym: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Min-label propagation to the exact fixpoint over a symmetric edge list.

    ``sym`` must contain both directions of every edge as (doc_a, doc_b).
    Returns (doc_id, lbl) with lbl = min node id of the component.

    Hardening for pathological graphs (long chains → rounds ~ diameter):
    every third round the label frontier is eagerly
    ``localCheckpoint``'d so lineage stays bounded however many rounds
    run, and ``max_rounds`` is a loud-failure guard — an
    iteration-capped result silently presented as components would be a
    correctness bug, so non-convergence raises instead of returning.

    Initialization is the one-hop neighborhood min — lbl0(v) =
    min(v, min neighbor) via ONE groupBy over the edge list — which is
    exactly what the first join round used to produce, at a third of
    its cost (no join, no union, no node-distinct shuffle). Dense
    near-dup cliques (the common case: LSH buckets connect all
    members) reach the fixpoint AT init, so the loop's first round is
    already the confirming one.
    """
    labels = (
        sym.groupBy("doc_a")
        .agg(F.min("doc_b").alias("_nb"))
        .select(
            F.col("doc_a").alias("doc_id"),
            F.least(F.col("doc_a"), F.col("_nb")).alias("lbl"),
        )
        .cache()
    )
    # Convergence via a potential function, not a new-vs-old join:
    # labels only ever DECREASE (new = min(old, propagated)) over a
    # fixed node set, so sum(lbl) strictly decreases iff any label
    # changed — one tiny aggregate per round instead of a join+filter
    # +count (a full extra shuffle per round).
    # decimal(38,0): sum of n node ids can overflow int64 at corpus
    # scale and Spark's ANSI sum would throw mid-fixpoint.
    potential = F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(potential).collect()[0]["s"]
    for round_no in range(1, max_rounds + 1):
        prop = (
            labels.join(sym, labels.doc_id == sym.doc_a)
            .select(F.col("doc_b").alias("doc_id"), "lbl")
        )
        new_labels = (
            labels.select("doc_id", "lbl")
            .union(prop)
            .groupBy("doc_id")
            .agg(F.min("lbl").alias("lbl"))
        )
        if round_no % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.cache()
        new_sum = new_labels.agg(potential).collect()[0]["s"]
        changed = int(new_sum != prev_sum)
        prev_sum = new_sum
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            # cut lineage FOR REAL before returning: the caller will
            # unpersist the edge list, and DataFrame.unpersist cascades
            # to dependent cached plans — a merely-cached result would
            # silently re-expand to the full iterative lineage (measured
            # 546 FileScans / 2913 exchanges in the returned plan; 1 / 3
            # after this checkpoint)
            final = labels.localCheckpoint(eager=True)
            labels.unpersist()
            return final
    raise RuntimeError(
        f"propagate_min_labels: no fixpoint after {max_rounds} rounds — "
        "graph diameter exceeds the guard; raise max_rounds explicitly "
        "rather than trusting a truncated labeling"
    )




def _rollup_labels(labels: DataFrame) -> DataFrame:
    """Roll a (doc_id, lbl) labeling up to one row per component.

    One definition of the component-output discipline: numeric sort
    FIRST, then stringify — a lexicographic sort of stringified ids
    disagrees with the oracle's ORDER BY.
    """
    return labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda c: c.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


@register(
    "dedup_components",
    oracle=f"""
    {_reach_ctes()}
    SELECT lbl AS component,
           count(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS members
    FROM comp
    GROUP BY lbl
    """,
    survey="D2/A12 (duplicate clusters: connected components over pair graph)",
    scale="""
    Turns pairwise near-dups into canonical clusters: iterative min-label
    propagation (the large-star/small-star family) over the LSH-verified
    edge list with exact-duplicate mass COLLAPSED first (one
    representative per distinct content runs the pair pipeline; copies
    reconnect via rep->copy star edges — connectivity provably identical,
    edge count linear in the duplicate mass instead of quadratic; 602 s
    -> ~sf1 cost at the 100-replica sf10 synthetic tier).
    Each round is one shuffle of (node, label) co-partitioned
    with the symmetric edge list; the loop caches the new frontier and
    unpersists the old (SURVEY §3.3 discipline) and stops at the exact
    fixpoint — for dedup graphs (tiny diameter: near-dup clusters are
    dense) that is 2-4 rounds regardless of corpus size. The DuckDB
    oracle computes the same fixpoint via a recursive CTE, an
    implementation-independent witness that the distributed loop
    converged to true components, not an iteration-capped approximation.
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical duplicate clusters: (component=min doc_id, size, members).

    ``members`` is a ","-joined STRING, not array<long>: the external
    driver canonicalizes results with pandas ``sort_values``, which
    cannot hash list cells — same flattening discipline as agg_collect
    (operators/aggregates.py).

    Edges come from ``_collapsed_parts`` — the uncapped pair graph
    with exact-duplicate mass collapsed to rep->copy stars; components
    (and hence this output) are provably identical to running over
    ``dedup_minhash_pairs`` directly, but the edge list stays linear in
    the duplicate mass instead of quadratic. The labeling itself comes
    from :func:`component_labels` (propagation over reps only, star
    copies joined in afterwards) — the same definition
    dedup_soft_weights consumes, so the two queries can never report
    different clusterings.
    """
    return _rollup_labels(component_labels(spark, sf_dir))


@register(
    "dedup_soft_weights",
    oracle=f"""
    {_reach_ctes()},
    weighted AS (
        SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c USING (doc_id)),
    sizes AS (
        SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
        FROM weighted GROUP BY component)
    SELECT w.doc_id, w.component, s.cluster_size,
           round(1.0 / s.cluster_size, 6) AS weight
    FROM weighted w JOIN sizes s USING (component)
    """,
    survey="D2 extension (soft dedup: RefinedWeb/FineWeb-style duplicate "
    "down-weighting — every copy kept at sampling weight 1/cluster-size "
    "instead of hard-dropped)",
    scale="""
    The sampling-weight alternative to hard dedup: training pipelines
    that drop duplicates lose the (often higher-quality) repeated
    content's natural prevalence signal entirely, so RefinedWeb-style
    curation keeps every member of a near-dup cluster and DOWN-WEIGHTS
    it to 1/|cluster| — the corpus' expected token mass under sampling
    equals the deduped corpus', without choosing a canonical copy. One
    extra aggregate over the SAME component labeling definition
    dedup_components reports (shared :func:`component_labels`); at
    100 TB the labeling is a persisted artifact both consumers read.
    Sizes are a map-side-combined groupBy over the LABELED mass only
    (labels cover every node of every cluster, and label-clusters have
    >= 2 members, so label counts ARE cluster sizes — the corpus-sized
    per-doc groupBy is redundant), joined back as a
    plain equi-join on the component key (NOT a window — a count
    window would serialize each head cluster into one task, and the
    head cluster is exactly where dedup matters; the shuffle join gets
    AQE skew splitting for free). Non-clustered docs keep weight 1.0
    via the left joins' coalesces. At 100 TB the weight column
    persists next to the corpus and the sampler consumes it directly.
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sampling weight 1/|near-dup cluster| (soft dedup).

    Capability parity: the RefinedWeb/FineWeb duplicate-down-weighting
    pass. Shares the collapsed edge list and min-label propagation with
    dedup_components, so the weights are 1/n_docs of exactly the
    clusters that query reports; singletons (including shingle-less
    docs, which are isolated in the true graph) weigh 1.0.
    """
    labels = component_labels(spark, sf_dir)
    # Label counts ARE cluster sizes: labels carry one row per graph
    # node, a cluster's docs are exactly its nodes, and every labeled
    # cluster has >= 2 members — so sizes aggregate over the labeled
    # mass only, never the corpus. Docs without a label are singletons
    # (size 1, weight 1.0) via the left joins' coalesces.
    sizes = labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("component"))
        .join(sizes, "component", "left")
        .select(
            "doc_id",
            "component",
            F.coalesce("cluster_size", F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            pround(F.lit(1.0) / F.coalesce("cluster_size", F.lit(1)), 6).alias(
                "weight"
            ),
        )
    )


@register(
    "dedup_keep_best",
    oracle="""
    SELECT h, keep_id, n_copies FROM (
        SELECT md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS h,
               doc_id AS keep_id,
               count(*) OVER (PARTITION BY md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')))
                   AS n_copies,
               row_number() OVER (PARTITION BY md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
    survey="D1 extension (dedup keeping the best copy, not an arbitrary one)",
    scale="""
    Curation-grade exact dedup: near-identical scrapes differ in
    truncation/boilerplate, so keep the copy maximizing a quality key
    (here n_chars, tiebroken by doc_id for determinism) instead of
    min(doc_id). Implemented as max_by over a composite struct — ONE
    partial->final hash aggregation (the struct max is a monoid), NOT a
    rank window: no per-group sort, and the shuffle still carries
    (hash, struct) pairs only. Swap the struct's first field for any
    quality score (language confidence, perplexity) — same plan.
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the longest copy per content hash (quality-keeping dedup)."""
    docs = table(spark, sf_dir, "documents")
    h = F.md5(fold_lower(F.trim("text")))
    return (
        docs.select(
            h.alias("h"), "doc_id", "n_chars"
        )
        .groupBy("h")
        .agg(
            # max over (n_chars, -doc_id): longest copy, lowest id on ties
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("h", (-F.col("m.neg_id")).alias("keep_id"), "n_copies")
    )


@register(
    "dedup_against_corpus",
    oracle="""
    WITH hist AS (SELECT coalesce(md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')),
                                  '__null__' || doc_id) AS h
                  FROM documents WHERE doc_id < 250 GROUP BY 1),
    batch AS (SELECT doc_id, coalesce(md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')),
                                      '__null__' || doc_id) AS h
              FROM documents WHERE doc_id >= 250)
    SELECT b.doc_id
    FROM batch b LEFT JOIN hist ON hist.h = b.h
    WHERE hist.h IS NULL
      AND NOT EXISTS (
        SELECT 1 FROM batch b2
        WHERE b2.h = b.h AND b2.doc_id < b.doc_id)
    """,
    survey="D1 extension (incremental dedup: new batch vs historical "
    "corpus hash set)",
    scale="""
    The daily-ingest pattern: the historical corpus is represented by
    its (16-byte) content-hash relation only — the new batch anti-joins
    against it (no text ever shuffles), then dedups within itself
    keeping the earliest id. At 100 TB the historical hash set is
    bucketed/sorted on disk so the anti-join is a zero-exchange
    sort-merge per ingest (sink_bucketed_join's layout), or a bloom
    pre-filter (join_bloom_pruned) cuts the probe before the exact
    anti-join; either way ingest cost is O(batch), never O(corpus).
    New survivors' hashes append to the same bucketed set — the state
    grows by exactly the accepted rows.
    """,
)
def dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch doc_ids surviving exact dedup vs the historical corpus."""
    d = table(spark, sf_dir, "documents")
    # NULL discipline (the _content_families rule): a NULL-text doc is a
    # SINGLETON — it never matches history and never collapses with
    # other NULL docs. Without the coalesce, Spark's groupBy treats all
    # NULL hashes as ONE group (keeping min doc_id) while SQL equality
    # never matches NULL (keeping every one) — a latent builder/oracle
    # divergence on any NULL-bearing fixture.
    h = F.coalesce(
        F.md5(fold_lower(F.trim(F.col("text")))),
        F.concat(F.lit("__null__"), F.col("doc_id").cast("string")),
    ).alias("h")
    hist = d.filter(F.col("doc_id") < 250).select(h).distinct()
    batch = d.filter(F.col("doc_id") >= 250).select("doc_id", h)
    survivors = batch.join(hist, "h", "left_anti")
    return (
        survivors.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


@register(
    "dedup_against_corpus_minhash",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   min(({_DUCK_A}[seed + 1] * {_DUCK_N}
                        + {_DUCK_B}[seed + 1]) % 2147483647) AS minhash
            FROM sh CROSS JOIN generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ','
                                    ORDER BY seed)) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
             FROM bands b JOIN bands c
               ON b.band = c.band AND b.band_key = c.band_key
             WHERE b.doc_id >= 250 AND c.doc_id < 250),
    ssets AS (SELECT doc_id, sh FROM sh GROUP BY doc_id, sh),
    verified AS (
      SELECT p.batch_id, p.corpus_id,
             count(sb.sh) AS inter_n,
             any_value(na.n) + any_value(nb.n) - count(sb.sh) AS union_n
      FROM cand p
      JOIN ssets sa ON sa.doc_id = p.batch_id
      LEFT JOIN ssets sb ON sb.doc_id = p.corpus_id AND sb.sh = sa.sh
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) na
        ON na.doc_id = p.batch_id
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) nb
        ON nb.doc_id = p.corpus_id
      GROUP BY p.batch_id, p.corpus_id)
    SELECT batch_id, corpus_id,
           round(inter_n * 1.0 / union_n, 4) AS jaccard
    FROM verified
    WHERE inter_n * 1.0 / union_n >= 0.5
    """,
    survey="D1/D2 extension (incremental NEAR-dup admission: new batch "
    "LSH-probes the historical corpus's banded signature index)",
    scale="""
    dedup_against_corpus extended from exact-hash to NEAR-dup, the
    production ingest gate: the historical corpus is represented by its
    persisted (doc, band, band_key) LSH index — 4 rows of 16-byte keys
    per doc, bucketed on (band, band_key) on disk — and each incoming
    batch computes ITS OWN signatures (O(batch)), probes the index with
    an equi-join (never a corpus self-join: the join shape is
    batch x bucket-hit, so ingest cost scales with the batch, not the
    corpus), and exact-verifies the surviving candidates' Jaccard on
    shingle hash sets. Admission is then one anti-join on the verified
    batch_ids. Exact-copy mass collapses INDEPENDENTLY per side before
    any pairwise work (identical text => identical signatures, buckets
    and Jaccard — the two-sided split makes the collapse especially
    clean: a batch copy of a corpus doc is a rep-level candidate PAIR,
    so no within-family special case exists) and the verified rep pairs
    expand back through both family relations. The oracle is the
    UNCOLLAPSED direct computation over all docs, so driver hash
    equality proves the collapse and the side-split lossless. At the
    fixture there is no persisted index, so the corpus side's
    signatures are computed in-plan; the plan SHAPE (batch-vs-corpus
    equi-join, no self-join) is what survives 100 TB.
    """,
)
def dedup_against_corpus_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch-vs-corpus near-dup pairs (LSH probe + exact Jaccard >= 0.5),
    each side's exact-copy mass collapsed first (provably lossless)."""
    d = table(spark, sf_dir, "documents")
    bfam, brep = _content_families(d.filter(F.col("doc_id") >= 250))
    cfam, crep = _content_families(d.filter(F.col("doc_id") < 250))
    expanded = _expand_families(
        _minhash_probe(brep, crep), bfam, ordered=True, fam_b=cfam
    )
    return expanded.select(
        F.col("doc_a").alias("batch_id"),
        F.col("doc_b").alias("corpus_id"),
        "jaccard",
    )


def _minhash_probe(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """(doc_a=batch doc, doc_b=corpus doc, jaccard): LSH band probe of
    ``corpus`` by ``batch``, exact-verified at Jaccard >= 0.5.

    The two-relation form of :func:`_lsh_pairs_sets`: same signature
    family, banding layout and threshold, but the candidate stage is a
    batch-bands x corpus-bands EQUI-join instead of a corpus self-join
    — in production the corpus side is the persisted index relation and
    only the batch side is computed. The builder passes exact-duplicate
    COLLAPSED rep sides, so the per-side set arrays are bounded by
    distinct-content mass.
    """
    return _lsh_pairs_sets(
        _hset_arrays(batch).localCheckpoint(eager=True),
        _hset_arrays(corpus).localCheckpoint(eager=True),
    )


def _lsh_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Write (or reuse) the persisted corpus LSH index; return its table.

    Memoized per (session, sf_dir, documents-mtime) — the index is a
    pure function of the immutable fixture, so re-invocation reuses the
    already-written table instead of (a) leaking one full bucketed copy
    per run and (b) dropping a fixed-name table out from under a prior
    call's still-lazy DataFrame. The table name is derived from the
    corpus path, so indexes for different sf_dirs coexist; a
    REBUILT fixture (new mtime) rewrites in place — the one case where
    a prior handle was already invalid — after rmtree'ing the
    superseded copy, keeping at most one on-disk index per corpus per
    session.
    """
    import hashlib
    import shutil
    import tempfile

    from ..sources.partitioned import write_bucketed

    memo: dict = getattr(spark, "_mrs_lsh_index_memo", None)
    if memo is None:
        memo = {}
        spark._mrs_lsh_index_memo = memo
    try:
        mtime = os.stat(f"{sf_dir}/documents.parquet").st_mtime_ns
    except OSError:
        mtime = None
    tbl = "q_lsh_index_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    hit = memo.get(sf_dir)
    if hit is not None and hit[0] == mtime:
        return tbl
    if hit is not None:
        shutil.rmtree(hit[1], ignore_errors=True)
    d = table(spark, sf_dir, "documents")
    idx_df = _bands_of(_sig_wide(d.filter(F.col("doc_id") < 250))).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_key"
    )
    base = tempfile.mkdtemp(prefix="mrs_lshidx_")
    write_bucketed(
        idx_df,
        tbl,
        ["band", "band_key"],
        8,
        ["band", "band_key"],
        location=f"{base}/{tbl}",
    )
    memo[sf_dir] = (mtime, base)
    return tbl



@register(
    "sink_lsh_index",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   min(({_DUCK_A}[seed + 1] * {_DUCK_N}
                        + {_DUCK_B}[seed + 1]) % 2147483647) AS minhash
            FROM sh CROSS JOIN generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ','
                                    ORDER BY seed)) AS band_key
              FROM sig GROUP BY doc_id, seed // 4)
    SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
    FROM bands b JOIN bands c
      ON b.band = c.band AND b.band_key = c.band_key
    WHERE b.doc_id >= 250 AND c.doc_id < 250
    """,
    survey="A4/§4 + D2 extension (the PERSISTED banded LSH index: the "
    "corpus-side artifact dedup_against_corpus_minhash's scale note "
    "names, written bucketed on the probe key so admission probes read "
    "it with zero index-side exchange)",
    scale="""
    dedup_against_corpus_minhash made storage-real: the corpus's
    (corpus_id, band, band_key) LSH index is WRITTEN — bucketBy(8,
    band, band_key) sortBy the same — and the candidate probe reads the
    PERSISTED relation. Bucketing on the probe key means the stored
    side of the bucket join reports its layout as the join's required
    distribution, so the index — the corpus-scaled side, the one that
    is 100 TB in production — is never exchanged: only the in-flight
    batch bands shuffle, into |buckets| partitions
    (tests/test_layouts.py asserts exactly one Exchange on the band
    keys with broadcast disabled, and Bucketed: true on the scan).
    Ingest then costs O(batch) signatures + one batch-sized shuffle +
    a bucket-pruned merge against sorted index files, per batch,
    forever — the index is written once and re-read by every
    admission; re-bucketing never happens. The declared output is the
    doc-level candidate pair list (the verify stage is
    dedup_against_corpus_minhash's, shared); the oracle computes the
    same bands directly, so hash equality proves the artifact
    round-trips the banding exactly.
    """,
)
def sink_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the corpus band index bucketed on (band, band_key); probe
    it with the batch's in-flight bands; return candidate doc pairs."""
    tbl = _lsh_index_table(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    b_bands = _bands_of(
        _sig_wide(d.filter(F.col("doc_id") >= 250))
    ).select(F.col("doc_id").alias("batch_id"), "band", "band_key")
    return (
        b_bands.join(spark.table(tbl), ["band", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


@register(
    "sink_bucketed_hsets",
    oracle=REGISTRY["dedup_minhash_pairs"].oracle,
    survey="D2/§4 extension (the PERSISTED co-located shingle-set "
    "layout: per-rep (doc_id, hs) set arrays written bucketed on "
    "doc_id, so every doc-keyed verify join reads pre-partitioned "
    "data with zero set-side exchange)",
    scale="""
    The component-labeling family's verify stage made storage-real
    (guide §6 bucketing + §3.1 exchange-free joins): the per-rep
    distinct shingle-hash SET arrays — the one relation the signature
    pipeline and both verify sides read — are WRITTEN bucketBy(8,
    doc_id) sortBy(doc_id), and the whole LSH pipeline runs off the
    persisted table. Signatures and band keys are pure projections
    over the bucketed scan (zero exchanges); the candidate self-join
    shuffles only 16-byte band keys; and each verify join's set side
    reports the bucket layout as its distribution, so only the
    candidate pairs ever shuffle — the set arrays, the corpus-scaled
    side, move ZERO times past the write
    (tests/test_layouts.py::test_declared_bucketed_hsets_plan pins
    Bucketed: true and no doc_id exchange on the set side with
    broadcast disabled). At 100 TB this table is the artifact
    components / soft_weights / every admission batch read: written
    once per corpus version, consumed by every downstream labeling
    run with zero re-shingling and zero set-side shuffle, maintained
    per ingest batch by appending the batch's rep rows into the same
    bucket layout. At the fixture the write happens INSIDE the query
    (fresh tempdir per invocation, no memo) so every bench/oracle run
    still computes from the parquet inputs; the declared output is
    dedup_minhash_pairs' exact pair list, so the driver's hash
    equality proves the persisted layout round-trips the whole
    pipeline bit-for-bit.
    """,
)
def sink_bucketed_hsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist rep shingle-set arrays bucketed on doc_id; run the full
    LSH pair pipeline (signatures, banding, verify) off the persisted
    co-located layout; return dedup_minhash_pairs' exact output."""
    import tempfile

    from ..sources.partitioned import write_bucketed

    fam, reps = _content_families(table(spark, sf_dir, "documents"))
    base = tempfile.mkdtemp(prefix="mrs_hsets_")
    write_bucketed(
        _hset_arrays(reps),
        "q_bucket_hsets",
        ["doc_id"],
        8,
        ["doc_id"],
        location=f"{base}/q_bucket_hsets",
    )
    rp = _lsh_pairs_sets(spark.table("q_bucket_hsets"))
    return _expand_families(rp, fam, eligible=_shingled(reps))


@register(
    "dedup_minhash_eval",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   min(({_DUCK_A}[seed + 1] * {_DUCK_N}
                        + {_DUCK_B}[seed + 1]) % 2147483647) AS minhash
            FROM sh CROSS JOIN generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     md5(string_agg(CAST(minhash AS VARCHAR), ','
                                    ORDER BY seed)) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    agree AS (SELECT c.doc_a, c.doc_b,
                     CAST(sum(CASE WHEN sa.minhash = sb.minhash
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.doc_a
              JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
              GROUP BY c.doc_a, c.doc_b),
    ssets AS (SELECT doc_id, sh FROM sh GROUP BY doc_id, sh),
    truth AS (
      SELECT c.doc_a, c.doc_b,
             count(sb.sh) AS inter_n,
             any_value(na.n) + any_value(nb.n) - count(sb.sh) AS union_n
      FROM cand c
      JOIN ssets sa ON sa.doc_id = c.doc_a
      LEFT JOIN ssets sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) na
        ON na.doc_id = c.doc_a
      JOIN (SELECT doc_id, count(*) AS n FROM ssets GROUP BY doc_id) nb
        ON nb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b)
    SELECT a.doc_a, a.doc_b,
           round(a.n_agree / 16.0, 4) AS est_jaccard,
           round(t.inter_n * 1.0 / t.union_n, 4) AS true_jaccard
    FROM agree a JOIN truth t
      ON t.doc_a = a.doc_a AND t.doc_b = a.doc_b
    """,
    survey="D2 extension (MinHash estimator calibration: signature "
    "agreement vs true Jaccard per candidate pair)",
    scale="""
    The diagnostics query that keeps a dedup pipeline honest: for every
    LSH candidate pair, the signature-agreement estimate (matching
    seeds / 16) next to the exact shingle Jaccard — drift between the
    columns is how you detect a broken hash family or a banding layout
    mismatched to the similarity threshold. Estimation runs entirely on
    the 16-row signatures; the exact Jaccard runs only on the
    LSH-surviving pairs (the whole point of banding), so the expensive
    truth computation is candidate-bounded, not corpus-quadratic —
    affordable to sample continuously in production. Exact-copy mass
    is collapsed first (candidacy, the 16-seed
    agreement count and the exact Jaccard are all content-level
    properties, so the direct pipeline runs on representatives and
    values expand verbatim; within-family pairs are (est 1.0,
    true 1.0) for shingle-full contents) — the 100-replica tier fell
    101.4 s -> 14.8 s generating the same 27.53M true rows, pinned
    row-for-row against the uncollapsed pipeline in
    tests/test_similarity_joins.py.
    """,
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs true Jaccard, exact-copy
    mass collapsed first (provably lossless: candidacy, the signature
    agreement AND the exact Jaccard are all content-level properties)."""
    fam, reps = _content_families(table(spark, sf_dir, "documents"))
    return _expand_families(
        _minhash_eval_pairs(reps), fam, eligible=_shingled(reps)
    )


def _minhash_eval_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard, true_jaccard) for every LSH candidate
    pair of ``docs`` — dedup_minhash_eval's direct pipeline, run by the
    builder over content representatives only.

    One set-array relation feeds all three parts: the bands and the
    true Jaccard come from :func:`_lsh_pairs_sets` at threshold 0 (every
    candidate is kept), and the seed agreement compares the two sides'
    wide signatures, a projection of the same arrays."""
    arr = _hset_arrays(docs).localCheckpoint(eager=True)
    sig = _sig_wide_from_sets(arr).select(
        "doc_id", F.array(*[f"h{i}" for i in range(_SEEDS)]).alias("sig")
    )
    n_agree = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        _lsh_pairs_sets(arr, threshold=0.0)
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            pround(n_agree / 16.0, 4).alias("est_jaccard"),
            F.col("jaccard").alias("true_jaccard"),
        )
    )


def star_components(sym: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components via alternating large-star/small-star.

    ``sym`` must contain both directions of every edge as (doc_a, doc_b).
    Returns (doc_id, lbl) with lbl = min node id of the component —
    identical contract to :func:`propagate_min_labels`, but convergence
    is O(log^2 n) ROUNDS instead of O(diameter): each large-star hooks
    every node's neighborhood onto its local minimum, halving tree
    heights, so a million-node chain finishes in ~20 rounds where
    one-hop propagation needs a million. The per-round cost is two
    groupBys over the (shrinking) edge list — the same shuffle budget
    per round as propagation, exponentially fewer rounds.

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    small-star(u): over edges (u, v) with v ≤ u: m = min(N̲(u) ∪ {u});
    emit (v, m) for v ∈ N̲(u) ∪ {u}, v ≠ m. (Kiveris et al.,
    "Connected Components in MapReduce and Beyond" — public algorithm.)

    Kept next to :func:`propagate_min_labels` on purpose, not merged
    into it: at sf0.1 on 4 cores (second of two passes) dedup_components
    (propagation) ran 27 stages and 2.4-4.9 executor CPU-s, while
    dedup_components_star ran 73 stages and 3.2-5.1 CPU-s. Merging onto
    star slows the three propagation queries on dense, low-diameter
    dedup graphs; merging onto propagation drops the O(log^2 n)-round
    guarantee on long chains.
    """
    edges = sym.filter(F.col("doc_a") != F.col("doc_b")).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).distinct().cache()
    for _ in range(max_rounds):
        # large-star over the symmetrized adjacency. No collect_set
        # anywhere: neighborhoods are never materialized per node (a
        # hub's adjacency would otherwise have to fit one task's
        # memory) — the per-u minimum is a plain partial-aggregated
        # groupBy joined back onto the edge stream.
        adj = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins_l = adj.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            adj.join(mins_l, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over downward edges of the large-star output
        down = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins_s = down.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        small = (
            down.join(mins_s, "u")
            .select(F.col("v").alias("node"), F.col("m"))
            .union(
                mins_s.select(F.col("u").alias("node"), F.col("m"))
            )
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)  # bounded lineage per round
        )
        # converged when the edge set is star-shaped and stable. Both
        # relations are distinct edge sets, so an edge that occurs once
        # in their union is in exactly one of them: one action per round
        stable = (
            small.unionByName(edges)
            .groupBy("u", "v")
            .count()
            .filter(F.col("count") == 1)
            .isEmpty()
        )
        edges.unpersist()
        edges = small
        if stable:
            return (
                edges.select(F.col("u").alias("doc_id"),
                             F.col("v").alias("lbl"))
                .union(
                    edges.select(F.col("v").alias("doc_id"),
                                 F.col("v").alias("lbl"))
                )
                .groupBy("doc_id")
                .agg(F.min("lbl").alias("lbl"))
            )
    raise RuntimeError(
        f"star_components: no fixpoint after {max_rounds} rounds — "
        "raise max_rounds explicitly rather than trusting a truncated "
        "labeling"
    )


@register(
    "dedup_components_star",
    oracle=REGISTRY["dedup_components"].oracle,
    survey="D2/A12 extension (connected components via alternating "
    "large-star/small-star — O(log^2 n) rounds)",
    scale="""
    The scale-robust successor to dedup_components' one-hop propagation:
    label propagation needs rounds ~ graph DIAMETER (a pathological
    million-node chain = a million shuffles), while the alternating-star
    algorithm hooks each neighborhood onto its local minimum and
    converges in O(log^2 n) rounds on ANY graph — the public
    Kiveris-et-al MapReduce formulation, expressed as two partial-
    aggregated groupBys per round over a monotonically simplifying edge
    list, localCheckpoint'd per round. Same collapsed LSH-verified input
    edges as dedup_components (exact-dup mass as rep->copy stars),
    same exact-fixpoint contract (loud failure at the round cap), same
    recursive-CTE oracle proving TRUE components. Property test pins
    the round advantage: a 64-node chain converges in <=8 star rounds
    vs 64 propagation rounds.
    """,
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via alternating-star connected components.

    ``members`` flattened to a ","-joined string for the driver's pandas
    canonicalizer — see dedup_components. Shares the FULL
    :func:`component_labels` slice structure with dedup_components: the
    star rounds run over the REP pair graph only — exact-dup copies
    never enter the loop; they attach via the one rep-join slice
    afterwards. Label equality of the two routes is the disjoint-slice
    argument in component_labels' docstring, pinned by
    test_builders_agree_with_each_other and the shared recursive-CTE
    oracle. Only the labeling ALGORITHM differs from dedup_components
    (alternating star vs one-hop propagation, O(log^2 n) rounds on
    pathological diameters).
    """
    return _rollup_labels(
        component_labels(spark, sf_dir, label_fn=star_components)
    )


@register(
    "dedup_substring",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 md5(unnest(list_transform(range(1, len(ws) - 6),
                     i -> array_to_string(ws[i:i+7], ' ')))) AS h
          FROM w WHERE len(ws) >= 8),
    per AS (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
    df AS (SELECT h, count(*) AS nd FROM per GROUP BY h)
    SELECT per.doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           round(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END)
                 / CAST(sum(c) AS DOUBLE), 6) AS dup_ratio
    FROM per JOIN df USING (h)
    GROUP BY per.doc_id
    """,
    survey="D2 extension (exact-substring dedup, fixed-k gram relaxation "
    "of Lee et al. 2022's suffix-array ExactSubstr — any duplicated "
    "span of >= 8 words is caught by its 8-gram)",
    scale="""
    The suffix-array dedup re-expressed relationally: 8-word grams are
    built in-codegen from the hoisted split (shingles' measured 6x
    discipline), hashed to md5 AT THE SCAN so every downstream shuffle
    carries 16-byte hashes, never gram text. Three partial-aggregated
    exchanges — (doc,gram) counts, per-gram doc counts via a window on
    the gram hash, per-doc rollup. Cross-doc sharing is decided on
    distinct (doc,gram) rows, so a gram repeated inside ONE doc does
    not mark it duplicated. At 100 TB this is the plan that replaces a
    monolithic suffix array: no global sort, no driver state, and the
    gram-hash relation can persist as the corpus's substring index for
    incremental batches (dedup_against_corpus's pattern).
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-8-gram fraction (exact-substring dedup signal)."""
    return substring_dups(table(spark, sf_dir, "documents"), digits=6)


def substring_dups(docs: DataFrame, digits: int | None = None) -> DataFrame:
    """(doc_id, n_grams, n_dup_grams, dup_ratio): each doc's 8-word gram
    count, how many of those grams another doc of ``docs`` also holds,
    and their ratio; ``digits`` rounds the ratio inside the aggregate
    (None leaves it unrounded)."""
    from pyspark.sql.window import Window

    g = shingles(docs, k=8).select("doc_id", F.md5("sh").alias("h"))
    per = g.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    dup = F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0))
    r = F.sum(dup) / F.sum("c").cast("double")
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.sum(dup).cast("long").alias("n_dup_grams"),
        (r if digits is None else pround(r, digits)).alias("dup_ratio"),
    )


def _capped_oracle() -> str:
    """Derive the capped oracle from dedup_minhash_pairs' SQL, loudly.

    A silent .replace no-op (if the base oracle is ever reworded) would
    leave a wrong — uncapped — oracle that only surfaces later as a
    confusing hash mismatch; RAISE if a patch fails to land (explicit
    raise, not assert: the guard must survive ``python -O``, where a
    stripped assert would bring back exactly that silent wrong oracle).
    """
    base = REGISTRY["dedup_minhash_pairs"].oracle
    step1 = base.replace(
        "cand AS (SELECT DISTINCT",
        """bcnt AS (SELECT band, band_key, count(*) AS cnt
             FROM bands GROUP BY band, band_key),
    kept AS (SELECT b.doc_id, b.band, b.band_key
             FROM bands b JOIN bcnt USING (band, band_key)
             WHERE bcnt.cnt <= 2),
    cand AS (SELECT DISTINCT""",
    )
    if step1 == base:
        raise RuntimeError(
            "capped-oracle patch 1 no-oped: base SQL reworded?"
        )
    step2 = step1.replace("FROM bands a JOIN bands b", "FROM kept a JOIN kept b")
    if step2 == step1:
        raise RuntimeError(
            "capped-oracle patch 2 no-oped: base SQL reworded?"
        )
    return step2


@register(
    "dedup_minhash_capped",
    oracle=_capped_oracle(),
    survey="D2 (LSH bucket-size cap — the boilerplate guard "
    "dedup_minhash_pairs' scale note prescribes, implemented)",
    scale="""
    Identical LSH pipeline with the quadratic-stage bound made real:
    buckets holding more than B=2 members are dropped BEFORE the
    candidate self-join (one window count over the checkpointed bands
    relation — no extra shuffle beyond the bucket key it already
    needs). At 100 TB a boilerplate template (site chrome, license
    headers) lands thousands of docs in one bucket; capping turns that
    bucket's quadratic pair explosion into zero work, at the cost of
    missing pairs whose ONLY collision is a mega-bucket — acceptable
    because such docs are boilerplate by construction, and true
    near-dups still meet in their other 3 bands. B=2 is fixture-
    calibrated to be observable (3 buckets of size 3 exist at sf0.01;
    smoke asserts capped ⊂ uncapped strictly).
    """,
)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs with over-full buckets dropped (cap=2)."""
    return _minhash_pairs(spark, sf_dir, cap=2)


@register(
    "dedup_ngram_jaccard_simblocked",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    bits AS (
      SELECT doc_id, b,
             sum(tf * (2 * ((CAST(floor(
                     (strpos('0123456789abcdef',
                             substr(md5(w), 1 + b // 4, 1)) - 1)
                     / power(2, b % 4)) AS INT)) % 2) - 1)) AS s
      FROM tf CROSS JOIN generate_series(0, 15) AS g(b)
      GROUP BY doc_id, b),
    fp AS (SELECT doc_id,
                  CAST(sum(CASE WHEN s > 0
                                THEN CAST(power(2, b) AS BIGINT)
                                ELSE 0 END) AS BIGINT) // 256 AS blk
           FROM bits GROUP BY doc_id),
    wsets AS (SELECT DISTINCT doc_id, w FROM tok),
    wb AS (SELECT ws.doc_id, ws.w, fp.blk
           FROM wsets ws JOIN fp ON fp.doc_id = ws.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM wsets GROUP BY doc_id),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
      FROM wb a JOIN wb b
        ON a.blk = b.blk AND a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(inter_n * 1.0 / (na.n + nb.n - inter_n), 4) AS jaccard
    FROM pair_inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE inter_n * 1.0 / (na.n + nb.n - inter_n) >= 0.9
    """,
    survey="D2 (word-set Jaccard blocked on the SIMHASH PREFIX — the "
    "stronger blocking key dedup_ngram_jaccard's scale note names, "
    "implemented)",
    scale="""
    dedup_ngram_jaccard with a CONTENT-derived block: the top 8 bits of
    each doc's SimHash fingerprint replace the (lang, source) metadata
    key, so block membership tracks what documents SAY — templated
    near-dups sharing no metadata still meet, and a mega-source no
    longer forms one giant block (256-way content split). The
    fingerprint relation is one row per DOCUMENT — not broadcastable at
    100 TB — so it is checkpointed once and joined without a strategy
    hint: AQE broadcasts it while it fits and falls back to a shuffle
    join beyond that (the only big shuffle either way is the (blk, w)
    pair join). Recall knob: near-dups differing in a top-8 bit are missed —
    at scale, probe the 8 one-bit-flip neighbor blocks exactly as
    similarity_lsh_multiprobe does for SRP buckets. Exact-copy mass
    collapses to one representative per distinct text before the block
    pair join and expands back through the family relation (identical
    text => identical word set, tf vector, simhash and block — so every
    copy inherits its representative's pairs verbatim and within-family
    pairs are direct Jaccard-1.0 rows; pinned against the uncollapsed
    pipeline in tests/test_similarity_joins.py). Uncollapsed, the
    10-copy tier read 122.9 s: 102x replica pair growth flowing through
    the (blk, w) self-join — collapsed, the pair join is
    distinct-content-sized and replica output is expansion-bound.
    """,
)
def dedup_ngram_jaccard_simblocked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Word-set Jaccard pairs within simhash-top-8-bit blocks,
    exact-copy mass collapsed first (provably lossless: identical text
    => identical word set, tf vector, simhash and block)."""
    fam, reps = _content_families(table(spark, sf_dir, "documents"))
    return _expand_families(_simblocked_pairs(spark, sf_dir, reps), fam)


def _simblocked_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The simhash-blocked word-set Jaccard pipeline over ``docs``
    (default: the full corpus — the uncollapsed form the tests pin
    the collapsed builder against)."""
    d = table(spark, sf_dir, "documents") if docs is None else docs
    fp = _simhash_blocks(spark, d)
    return _word_jaccard(d, fp, fp)


def _content_families(
    docs: DataFrame, metadata_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Exact-copy families on RAW text: ``(fam, reps)``.

    ``fam`` is (doc_id, text, *metadata_cols, rep, csize): rep = min
    doc_id per identical text (the same no-normalization contract as
    the shingle pipeline's input), csize = family size. ``reps`` is
    (doc_id, text, *metadata_cols) restricted to the representatives.
    Every collapsed pipeline runs on ``reps`` only and re-expands
    through ``fam`` (:func:`_expand_families`); that is provably
    lossless because identical text => identical shingle set =>
    identical sizes, intersections and scores for every member of the
    family.

    ``fam`` is checkpointed WITH the text, so ``reps`` and every later
    consumer read the one materialized scan instead of re-reading the
    corpus and re-joining it to the families (a join whose
    product-of-inputs size estimate also turns each downstream join
    into a sort-merge join until AQE sees the shuffle output). The
    checkpoint is a copy of the text columns: at corpus scale that is
    a cached corpus, the cost of scanning it once.

    metadata_cols extends the family key: a METADATA-BLOCKED pipeline
    (dedup_ngram_jaccard's (lang, source, ...) key) may only treat two
    docs as interchangeable when text AND block metadata agree — a
    text-only family would merge copies that the blocked pipeline
    keeps apart.

    NULL discipline: the direct pipelines can never pair a NULL-text
    doc (split(NULL) explodes to zero word/shingle rows) nor, in the
    metadata-blocked case, a NULL-metadata doc (the block join is
    null-UNsafe `=`), so such docs must NOT share a family — each gets
    a per-doc singleton key (F.concat propagates NULL through the
    field-wise md5s, and the coalesce falls back to doc_id). Fields
    are md5'd individually before concatenation so no separator value
    inside text can forge a (text, metadata) boundary.
    """
    parts = [F.md5("text")]
    parts += [F.md5(F.col(c)) for c in metadata_cols]
    key = F.coalesce(
        F.md5(F.concat(*parts)) if len(parts) > 1 else parts[0],
        F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
    )
    cols = ["doc_id", "text", *metadata_cols]
    keyed = docs.select(*cols, key.alias("content"))
    sizes = keyed.groupBy("content").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("csize")
    )
    fam = keyed.join(sizes, "content").drop("content").localCheckpoint(eager=True)
    return fam, fam.filter(F.col("doc_id") == F.col("rep")).select(*cols)


def _expansion_partitions(fam: DataFrame) -> int:
    """Explicit partition count for the family-expansion joins.

    The expansion stages are GENERATE-heavy: input is the compact
    family relation, output is all replica pairs — up to 10^4x larger.
    AQE's partition coalescing decides from shuffle BYTES of the tiny
    (often 1000:1-compressed) input and is blind to generated output,
    so at the 1000-replica tier it collapsed the 90-billion-row
    expansion to 7 tasks (the stats-lie lesson of SCALE.md applied to
    output instead of broadcast). A USER-SPECIFIED
    repartition count is exempt from AQE coalescing, pinning the
    expansion's parallelism to the session's shuffle width; the extra
    exchange moves only the compact family relation.
    """
    try:
        return int(
            fam.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    except ValueError:
        # e.g. "auto" on managed platforms — fall back to cluster width
        return fam.sparkSession.sparkContext.defaultParallelism


def _expand_families(
    rp: DataFrame,
    fam: DataFrame,
    ordered: bool = False,
    eligible: DataFrame | None = None,
    fam_b: DataFrame | None = None,
) -> DataFrame:
    """Representative-level pairs -> every family-member pair.

    Cross-family: ``rp``'s doc_a/doc_b are representative ids; every
    other column is carried verbatim (copies inherit their
    representative's scores exactly — identical text => identical
    sets/signatures). ``ordered`` keeps (a-member, b-member) orientation
    (containment); unordered re-orients each pair as (min, max) —
    families are disjoint, so each unordered pair is produced once.

    Within-family: the copies' pairs the rep pipeline cannot see, both
    directions when ``ordered``, else doc_a < doc_b. ``eligible``
    (keyed by the rep's doc_id) restricts which families pair within
    themselves:
    shingle pipelines pass the reps that HAVE a set, because a
    set-less content is pairless in the direct pipeline; word-set
    pipelines pass None (their only pairless case, NULL text, already
    has a singleton family). Each carried column takes ``eligible``'s
    column of the same name when it has one (the rep's set size as
    inter_n), else 1.0 — identical inputs score 1.0.

    ``fam_b``: a SECOND family relation for the doc_b side (the
    batch-vs-corpus probe, where the two sides collapse independently
    and no pair lies within a family); None reuses ``fam``.
    """
    carried = [c for c in rp.columns if c not in ("doc_a", "doc_b")]
    npart = _expansion_partitions(fam)

    def members(f: DataFrame) -> DataFrame:
        return f.groupBy("rep").agg(F.collect_list("doc_id").alias("mm"))

    # Array-explode expansion, NOT a member×member join: a join must
    # co-partition the generate-heavy stage on doc_a/doc_b, so one
    # representative appearing in many rep pairs concentrates its
    # (pairs x csize^2) output in one hash partition — AQE's skew
    # splitter is byte-blind to generated rows and never splits it
    # (measured: 6 straggler tasks carrying most of a 90B-row
    # expansion). Instead the compact rp relation joins two
    # family-ARRAY relations (one row per family), explodes side A,
    # repartitions on the uniform (pair, member-a) combination, and
    # explodes side B in codegen — the hot key never reaches an
    # exchange. Family arrays are bounded by per-content exact-copy
    # counts; a corpus holding ~10^7 copies of ONE text should run
    # dedup_exact upstream first (the same contract as the components
    # star edges).
    arrs = members(fam)
    arrs_b = arrs if fam_b is None else members(fam_b)
    j = (
        rp.join(
            arrs.select(F.col("rep").alias("doc_a"), F.col("mm").alias("as_")),
            "doc_a",
        )
        .join(
            arrs_b.select(
                F.col("rep").alias("doc_b"), F.col("mm").alias("bs")
            ),
            "doc_b",
        )
        .select(*carried, F.explode("as_").alias("xa"), "bs")
        .repartition(npart, "xa")
        .select(*carried, "xa", F.explode("bs").alias("xb"))
    )
    if ordered:
        sel = [F.col("xa").alias("doc_a"), F.col("xb").alias("doc_b")]
    else:
        sel = [
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
        ]
    cross = j.select(*sel, *carried)
    if fam_b is not None:
        return cross
    wf = (
        fam.filter(F.col("csize") >= 2)
        .select("doc_id", "rep")
        .repartition(npart, "rep")
    )
    own = set()
    if eligible is not None:
        wf = wf.join(eligible.withColumnRenamed("doc_id", "rep"), "rep")
        own = set(eligible.columns)
    values = [
        (F.col(f"a.{c}") if c in own else F.lit(1.0)).alias(c) for c in carried
    ]
    cmp = (
        (F.col("a.doc_id") != F.col("b.doc_id"))
        if ordered
        else (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    within = (
        wf.alias("a")
        .join(wf.alias("b"), (F.col("a.rep") == F.col("b.rep")) & cmp)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *values,
        )
    )
    return cross.unionByName(within)


def prefix_filter_pairs(
    docs: DataFrame, num: int, den: int, symmetric: bool, k: int
) -> DataFrame:
    """Exact-recall k-shingle-set pairs of ``docs`` over exact-copy
    representatives.

    symmetric=True: Jaccard >= num/den, doc_a < doc_b, both sides
    prefix-filtered (AllPairs). symmetric=False: containment
    |A&B|/|A| >= num/den, ordered pairs, one-sided prefix vs the full
    container posting list. Returns (doc_a, doc_b, inter_n, jaccard or
    containment) expanded to every family member; thresholds are integer
    (den * inter_n >= num * denominator), so both engines agree at
    exact multiples.
    """
    from pyspark.sql.window import Window

    fam, reps = _content_families(docs)
    sh = (
        shingles(reps, k=k)
        .select("doc_id", F.md5("sh").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # no broadcast hint: both sides are corpus-scaled — AQE decides
    tok = sh.join(dfreq, "h")
    wnd = Window.partitionBy("doc_id").orderBy("df", "h")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # prefix = n - ceil(num*n/den) + 1; integer ceil via (num*n + den-1)
    # div den, valid for ANY num/den threshold (not just num == den-1)
    prefix_len = F.expr(f"n - (({num} * n + {den} - 1) div {den}) + 1")
    pre = (
        tok.withColumn("rn", F.row_number().over(wnd))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= prefix_len)
    )
    if symmetric:
        cand = (
            pre.alias("a")
            .join(
                pre.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (den * F.col("b.n") >= num * F.col("a.n"))
                & (den * F.col("a.n") >= num * F.col("b.n")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
            .distinct()
        )
    else:
        cand = (
            pre.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"),
            )
            .distinct()
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
                ),
                "doc_b",
            )
            .filter(den * F.col("nb") >= num * F.col("na"))
        )
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    rp = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")
            ),
            "doc_b",
        )
        .withColumn(
            "inter_n", F.size(F.array_intersect("ha", "hb")).cast("long")
        )
    )
    inter = F.col("inter_n")
    if symmetric:
        score, denom = "jaccard", F.col("na") + F.col("nb") - inter
    else:
        score, denom = "containment", F.col("na")
    rp = rp.filter(den * inter >= num * denom).select(
        "doc_a", "doc_b", "inter_n", pround(inter * 1.0 / denom, 4).alias(score)
    )
    # within-family: every exact copy with >= 1 shingle scores 1.0
    # against its twins, with inter_n = the rep's set size
    eligible = sizes.select("doc_id", F.col("n").cast("long").alias("inter_n"))
    return _expand_families(rp, fam, ordered=not symmetric, eligible=eligible)


@register(
    "dedup_jaccard_exact",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 md5(unnest(list_transform(range(1, len(ws) - 2),
                     i -> array_to_string(ws[i:i+3], ' ')))) AS h
          FROM w WHERE len(ws) >= 4),
    ws2 AS (SELECT DISTINCT doc_id, h FROM g),
    sizes AS (SELECT doc_id, count(*) AS n FROM ws2 GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter_n
              FROM ws2 a JOIN ws2 b
                ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(inter_n AS BIGINT) AS inter_n,
           round(inter_n * 1.0 / (na.n + nb.n - inter_n), 4) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = doc_a
               JOIN sizes nb ON nb.doc_id = doc_b
    WHERE 5 * inter_n >= 4 * (na.n + nb.n - inter_n)
    """,
    survey="D2 extension (EXACT-recall set-similarity self-join via "
    "df-ordered prefix filtering -- AllPairs/PPJoin, Bayardo et al. "
    "2007 / Xiao et al. 2008 -- vs minhash's probabilistic recall and "
    "ngram_jaccard's blocked recall)",
    scale="""
    The third recall regime for near-dup pairs: dedup_minhash is
    probabilistic (banding misses), dedup_ngram_jaccard is blocked
    (cross-block pairs invisible); THIS query guarantees every
    Jaccard >= 0.8 pair on 4-word shingle sets, with the oracle being
    the brute-force all-pairs join -- hash equality IS the proof the
    prefix filter loses nothing. Exact-copy mass is collapsed FIRST
    (one representative per distinct raw text, _content_families):
    identical text means identical shingle sets, so every family
    member inherits its representative's pairs verbatim — cross-
    family results expand through the family relation in one codegen
    join, within-family pairs are emitted directly as (n, 1.0). On a
    100-replica tier this is the difference between a fixture-sized
    candidate stage + output-bound expansion and a candidate exchange
    quadratic in replica mass (measured: 279 s uncollapsed at 100
    copies, where containment's uncollapsed twin filled 22 GB of
    spill and died). The AllPairs prefix (|A| - ceil(0.8|A|) + 1
    rarest shingles, df-ascending) needs NO global rank: the global
    order is the (df, h) TUPLE order, so ranking is one per-doc
    row_number window — nothing single-partitions. Candidates join
    prefix-vs-prefix on the 16-byte shingle hash with the size filter
    4|A| <= 5|B| <= 25/4|A| pruning inside the join; verification
    joins two doc-length-bounded sorted hash arrays and intersects in
    codegen. Residual quadratic: only NEAR-dup (not exact-dup) mass,
    the irreducible _pairs contract. Integer thresholds throughout
    (5i >= 4(na+nb-i)): float 0.8*n is binary-inexact and the two
    engines' ceil() would disagree at exact multiples.
    """,
)
def dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 4-shingle-set pair with Jaccard >= 0.8 -- exact recall via
    AllPairs prefix filtering over exact-copy representatives."""
    return prefix_filter_pairs(
        table(spark, sf_dir, "documents"), num=4, den=5, symmetric=True, k=4
    )


@register(
    "dedup_containment",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 md5(unnest(list_transform(range(1, len(ws) - 2),
                     i -> array_to_string(ws[i:i+3], ' ')))) AS h
          FROM w WHERE len(ws) >= 4),
    ws2 AS (SELECT DISTINCT doc_id, h FROM g),
    sizes AS (SELECT doc_id, count(*) AS n FROM ws2 GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter_n
              FROM ws2 a JOIN ws2 b
                ON a.h = b.h AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(inter_n AS BIGINT) AS inter_n,
           round(inter_n * 1.0 / na.n, 4) AS containment
    FROM inter JOIN sizes na ON na.doc_id = doc_a
    WHERE 10 * inter_n >= 9 * na.n
    """,
    survey="D2 extension (ASYMMETRIC containment |A&B|/|A| >= 0.9 -- "
    "Broder 1997's resemblance-vs-containment distinction: finds docs "
    "that are near-SUBSETS of another, which symmetric Jaccard misses "
    "whenever the container is much larger)",
    scale="""
    Containment is what catches a paragraph republished inside a
    larger page: jaccard(A,B) ~ |A|/|B| is tiny, |A&B|/|A| is ~1.
    Ordered pairs (doc_a contained-in doc_b), both directions scored.
    Exact-copy mass collapses to representatives FIRST
    (_content_families) and results expand back through the family
    relation — for THIS query the collapse is load-bearing, not an
    optimization: the container side joins its FULL posting list (only
    the contained side can be prefix-pruned, since the overlap bound
    ceil(0.9|A|) depends on |A| alone), so uncollapsed replica mass
    multiplies BOTH posting sides — measured at the 100-replica
    tier, the uncollapsed candidate exchange spilled 22 GB and died
    with disk exhaustion; collapsed, the candidate stage is
    distinct-content-sized and the true ~replica^2 output (every copy
    contained in every family twin) is generated by the expansion
    join, output-bound. The necessary size filter 10|B| >= 9|A|
    prunes inside the join; verification is the same codegen
    array_intersect over doc-length-bounded sorted hash arrays as
    dedup_jaccard_exact. Residual quadratic: near-dup (not exact-dup)
    mass only. Integer thresholds (10i >= 9|A|, prefix len
    n - (9n+9) div 10 + 1).
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered near-subset pairs: |A&B|/|A| >= 0.9 on 4-shingle sets
    (A = doc_a contained in doc_b), exact recall, copy-collapsed."""
    return prefix_filter_pairs(
        table(spark, sf_dir, "documents"), num=9, den=10, symmetric=False, k=4
    )


def _neardup_curate_oracle() -> str:
    """Assemble corpus_curate_neardup's oracle: the quality band, the
    brute-force pair CTE re-pointed at the filtered set, the recursive
    component fixpoint, and the pack rollup — spliced from the declared
    building-block oracles so the composition is checked against the
    same SQL the stages are checked against individually."""
    from .curation import _CTX

    base = _pairs_cte()
    # splice anchors must exist exactly once each, or the assembled SQL
    # silently drifts from the building blocks — fail at import instead.
    # Explicit raise, not assert: the guard must survive ``python -O``,
    # same discipline as _capped_oracle.
    for anchor in (
        "FROM documents",
        "SELECT doc_a, doc_b,",
        "WHERE inter_n * 1.0 / union_n >= 0.5",
    ):
        if base.count(anchor) != 1:
            raise RuntimeError(f"pairs-CTE anchor moved: {anchor}")
    pairs = (
        base.replace("FROM documents", "FROM q")
        .replace("SELECT doc_a, doc_b,", ", pair_rows AS (SELECT doc_a, doc_b,")
        .replace(
            "WHERE inter_n * 1.0 / union_n >= 0.5",
            "WHERE inter_n * 1.0 / union_n >= 0.5)",
        )
    )
    return f"""
    WITH RECURSIVE bounds AS (
      SELECT lang,
             quantile_cont(n_chars, 0.10) AS lo,
             quantile_cont(n_chars, 0.90) AS hi
      FROM documents GROUP BY lang),
    q AS (SELECT d.doc_id, d.text
          FROM documents d JOIN bounds b ON d.lang = b.lang
          WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi),
    {pairs},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pair_rows
        UNION ALL
        SELECT doc_b, doc_a FROM pair_rows
    ),
    reach(doc_id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
        WHERE r.lbl < e.dst
    ),
    comp AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY doc_id),
    t AS (SELECT q.doc_id, len(string_split(q.text, ' ')) AS n_tok
          FROM q LEFT JOIN comp USING (doc_id)
          WHERE comp.lbl IS NULL OR comp.lbl = q.doc_id),
    c AS (SELECT doc_id, n_tok,
                 COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_before
          FROM t)
    SELECT CAST(cum_before // {_CTX} AS BIGINT) AS ctx_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c GROUP BY 1
    """


@register(
    "corpus_curate_neardup",
    oracle=_neardup_curate_oracle(),
    survey="E14/E15 + D2 (the production curation chain: quality band "
    "-> MinHash-LSH connected-component NEAR-dup dedup keeping the "
    "min-id representative -> context packing, ONE declared plan)",
    scale="""
    corpus_curate_pipeline with the dedup stage upgraded from exact
    hash to NEAR-dup — the chain GPT-3/LLaMA-class corpus reports
    actually describe: per-language p10..p90 length band, then MinHash
    LSH pair generation over the survivors with exact-copy mass
    collapsed first (_collapsed_parts over the filtered set — the
    quality filter SHRINKS the pair problem before any pairwise work,
    which is why the stage order matters at 100 TB), min-label
    propagation to the exact component fixpoint (O(diameter) rounds,
    near-dup clusters are dense so 2-4 in practice), keep = component
    representative (min doc_id) plus every unpaired doc, then the
    distributed prefix-sum pack. Near-dup keep subsumes exact dedup
    for every doc with >= 3 words (identical text => Jaccard 1.0 pair);
    shingle-less docs are isolated in the TRUE pair graph, so exact
    copies of sub-3-word docs all survive — the honest MinHash-family
    semantics, matched by the oracle, which recomputes the components
    from the UNCOLLAPSED brute-force pair CTE via a recursive fixpoint
    and re-derives the pack, so one hash equality checks the filter,
    the collapse, the component loop, the keep rule and the packing
    together. Per-stage scale stories are unchanged from the parent
    queries; the composition adds one id-keyed anti-join.
    """,
)
def corpus_curate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter, NEAR-dup dedup (LSH components), then pack."""
    from ..catalog import cached_count
    from .curation import _pack_windows
    from .text import _length_band

    d = table(spark, sf_dir, "documents")
    q = _length_band(d).select("doc_id", "text")
    labels = component_labels(spark, sf_dir, docs=q)
    drop = labels.filter(F.col("lbl") != F.col("doc_id")).select("doc_id")
    # _pack_windows reads its input twice (bucket subtotals, in-bucket
    # prefix window); checkpointing the 16-byte/row survivor relation
    # keeps the quality-band scan + anti-join from replaying per
    # consumer — the same barrier corpus_curate_pipeline's survivor
    # stage carries.
    surv = (
        q.join(drop, "doc_id", "left_anti")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .localCheckpoint(eager=True)
    )
    return _pack_windows(surv, cached_count(d))


@register(
    "dedup_canonical",
    oracle="""
    WITH pert AS (
        SELECT doc_id, text AS p FROM documents
        UNION ALL
        SELECT doc_id + 10000, translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '!!'
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 20000, ' ' || replace(text, ' ', '  ') || '. '
        FROM documents WHERE doc_id % 7 = 0),
    canon AS (SELECT doc_id, p,
                     trim(regexp_replace(regexp_replace(translate(p, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                              '[^a-z0-9 ]', '', 'g'),
                          ' +', ' ', 'g')) AS c
              FROM pert)
    SELECT md5(c) AS canon_md5,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(p)) AS BIGINT) AS n_raw_variants,
           min(doc_id) AS keep_id
    FROM canon GROUP BY md5(c)
    """,
    survey="D1/E84 (canonicalizing exact dedup: the normalize-then-hash "
    "step production exact dedup actually runs — case folding, "
    "punctuation strip, whitespace collapse — so trivially-reformatted "
    "copies land in one family raw hashing would split)",
    scale="""
    dedup_exact's production-honest form: raw text hashing misses the
    near-universal trivial variants (case, punctuation, runs of
    whitespace), so the hash key is a CANONICAL form — lower →
    strip-non-alnum → collapse-spaces → trim, all JVM regexp/codegen,
    no UDF, still one partial-aggregated groupBy on a constant-width
    key. The fixture has no reformatted copies (all sf0.01 texts are
    unique), so the relation under test splices them: every 5th doc
    gains an UPPER+'!!' twin and every 7th a space-doubled+'. ' twin
    (deterministic ids +10000/+20000, same construction both
    engines). The n_raw_variants>1 families are then a PROVABLY
    non-vacuous witness — those variants hash apart raw (distinct
    md5(p)) and together canonicalized — sizes 2 and 3 (docs
    divisible by 35) both occurring. At 100 TB this is the same
    hash-groupBy-monoid plan as dedup_exact — normalization adds
    per-byte CPU, zero shuffle width — and the canonical hash is what
    the incremental corpus set (dedup_against_corpus) should store.
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup families over the canonicalized (not raw) text hash."""
    d = fan_out(table(spark, sf_dir, "documents"))
    # ONE corpus scan builds the base + both perturbation variants:
    # per-row 3-struct explode with keep flags — a union of filters
    # would re-scan the corpus per branch. Same row set;
    # downstream is a hash aggregation, so order is free.
    entry = F.explode(
        F.array(
            F.struct(
                F.col("doc_id"),
                F.col("text").alias("p"),
                F.lit(True).alias("keep"),
            ),
            F.struct(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(fold_upper("text"), F.lit("!!")).alias("p"),
                (F.col("doc_id") % 5 == 0).alias("keep"),
            ),
            F.struct(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat(
                    F.lit(" "),
                    F.regexp_replace("text", F.lit(" "), F.lit("  ")),
                    F.lit(". "),
                ).alias("p"),
                (F.col("doc_id") % 7 == 0).alias("keep"),
            ),
        )
    )
    pert = (
        d.select(entry.alias("e"))
        .filter(F.col("e.keep"))
        .select(F.col("e.doc_id").alias("doc_id"), F.col("e.p").alias("p"))
    )
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(fold_lower("p"), F.lit("[^a-z0-9 ]"), F.lit("")),
            F.lit(" +"),
            F.lit(" "),
        )
    )
    return pert.groupBy(F.md5(canon).alias("canon_md5")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5("p")).cast("long").alias("n_raw_variants"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "dedup_paragraph",
    oracle="""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    idx AS (SELECT doc_id, w,
                   unnest(range(0, (len(w) + 9) // 10)) AS b
            FROM ws),
    paras AS (SELECT doc_id, CAST(b AS BIGINT) AS b,
                     md5(array_to_string(w[b*10+1 : b*10+10], ' ')) AS h
              FROM idx),
    own AS (SELECT h, min(doc_id * 1048576 + b) AS keep_key
            FROM paras GROUP BY h)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN p.doc_id * 1048576 + p.b <> o.keep_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(sum(CASE WHEN p.doc_id * 1048576 + p.b = o.keep_key
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS kept_frac
    FROM paras p JOIN own o ON p.h = o.h
    GROUP BY p.doc_id
    """,
    survey="D1 extension (paragraph-level exact dedup — the C4/RefinedWeb "
    "line-dedup pass: segment every document into fixed 10-word blocks, "
    "keep each block's FIRST corpus occurrence, report per-doc survival; "
    "sub-document granularity document-level dedup_exact cannot see)",
    scale="""
    The C4 recipe's most effective single step (Raffel et al. 2020
    deduplicate three-sentence spans corpus-wide; RefinedWeb/Dolma keep
    line-level variants): boilerplate repeats ACROSS documents that are
    not themselves duplicates, so document-hash dedup misses it and
    pair-based near-dup is overkill. Mechanism is pure hash grouping —
    never pairs: explode to 10-word blocks (deterministic segmentation;
    the fixture corpus has no newlines, so blocks stand in for lines),
    md5 each block, ONE partial-aggregated groupBy(hash) electing the
    canonical owner min(doc_id * 2^20 + block_idx) — a single BIGINT
    min, portable, lexicographic by construction (block index < 2^20
    == docs under ~10M words; same packing bound as the winnow guard) —
    then ONE hash-keyed equi-join marks every other occurrence as a
    duplicate and a per-doc re-aggregation emits survival stats. Two
    shuffles on uniform md5 keys (no skew possible), zero Python, scans
    never widen past (doc_id, hash). At 100 TB both shuffles carry
    ~|blocks| narrow rows; the owner relation is the only state and it
    partial-aggregates map-side. The declared output (per-doc block
    count, shadowed-block count, kept fraction) is the curation signal:
    kept_frac < threshold flags boilerplate-heavy documents for drop,
    and the exact-duplicate doc families in the fixture show up as
    kept_frac = 0 (every block shadowed by the family's first member),
    which the oracle equality pins end to end.
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 10-word-block dedup: per-doc survival after keeping
    each block's first occurrence (min (doc_id, idx) owner)."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    paras = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, (size(w) + 9) div 10 - 1),"
                    " b -> concat_ws(' ', slice(w, b*10+1, 10)))"
                )
            ).alias("b", "para"),
        )
        .select("doc_id", "b", F.md5("para").alias("h"))
    )
    # Loud packing guard (same hazard + fix as text_winnow_fingerprint):
    # a block index >= 2^20 (a ~10.5M-word document) would underflow
    # into the doc_id field and elect a WRONG owner — identically in
    # both engines, so the oracle could never catch it. assert_true
    # raises on the first offending row; the coalesce folds its NULL
    # into the key so the check can't be pruned as an unused column.
    b_guard = F.coalesce(
        F.assert_true(
            F.col("b") < 1048576,
            F.lit(
                "paragraph key packing overflow: block_idx >= 2^20"
                " collides with the next doc_id's key range; widen the"
                " packing (key = doc_id * 2^B) before deduplicating"
                " documents this long"
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    key = F.col("doc_id") * 1048576 + F.col("b") + b_guard
    own = paras.groupBy("h").agg(F.min(key).alias("keep_key"))
    return (
        paras.join(own, "h")
        .select("doc_id", (key != F.col("keep_key")).alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.col("is_dup").cast("int")).cast("long").alias("n_dup"),
            pround(
                F.sum((~F.col("is_dup")).cast("int")) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("kept_frac"),
        )
    )

"""Probabilistic sketches as pure DataFrame plans.

Capability parity: the reference has no sketch support at all — every
distinct/count is exact (``mrs/tasks.py`` reduce) — but at 100 TB the
training-pipeline questions ("how often does this shingle occur", "have
we seen this key") are sketch questions. Spark ships estimator UDAFs
(``approx_count_distinct``, ``count_min_sketch``) whose binary state is
engine-specific; these implementations instead BUILD the sketches as
relational plans over an md5 universal-hash family (same discipline as
``llm/dedup.py``), so the sketch contents are bit-identical across
engines and every query here has an exact DuckDB oracle — the sketch is
data, not an opaque blob.

Count-Min: d=4 rows x w=256 buckets over the wordcount domain; estimate =
min over rows of the bucket count (always >= true count). Bloom: m=512 bits
(demo) / 16384 bits (runtime-filter join), k=3 probes; membership = all
probed bits set (no false negatives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, table
from ..exprs import pround
from ..registry import register

#: universal-hash family h_i(n) = (A[i] * n + B[i]) mod P over the first
#: 60 bits of md5 — exact int64 arithmetic in Spark AND DuckDB
_P = 2147483647
_D = 4  # count-min depth / rows
_W = 256  # count-min width / buckets per row
_A = [1103515245 + 2 * i for i in range(_D)]
_B = [12345 + 7919 * i for i in range(_D)]

_M = 512  # bloom bits (sketch_bloom demo)
_BLOOM_M = 16384  # bloom bits for the runtime-filter join
_K = 3  # bloom probes per key

_DUCK_N = "(('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647)"


def _n(col: str):
    """First 60 bits of md5(col) reduced mod P (the Spark twin of _DUCK_N)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % _P


def words_of(docs: DataFrame) -> DataFrame:
    """(w) — one row per word occurrence of documents.text."""
    return fan_out(docs).select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")


def cm_pairs(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Fan each row to the d (seed, bucket) count-min coordinates of its
    ``w``.

    THE one definition of the sketch's hash-family fan-out (r10 review:
    it was pasted four times with drifting casts — build, two probe
    sites, and the shard-merge cells; a missed copy would silently
    break sketch/probe agreement). ``carry`` columns ride along.
    """
    n = _n("w")
    return df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("seed"),
                        ((F.lit(_A[i]) * n + F.lit(_B[i])) % _P % _W)
                        .cast("int")
                        .alias("bucket"),
                    )
                    for i in range(_D)
                ]
            )
        ).alias("sb"),
    ).select(*carry, "sb.seed", "sb.bucket")


def bloom_bits(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Fan each row to the k bloom bit positions of its ``w`` (shared
    build/probe)."""
    n = _n("w")
    return df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    ((F.lit(_A[i]) * n + F.lit(_B[i])) % _P % _M)
                    for i in range(_K)
                ]
            )
        ).alias("bit"),
    )


def countmin_sketch(
    occurrences: DataFrame, weight: str | None = None
) -> DataFrame:
    """(seed, bucket, cnt) — the full d x w count-min table of the ``w``
    column as rows.

    One narrow projection fans each input row to d (seed, bucket) pairs;
    one partial-aggregated groupBy builds the table. The sketch is at
    most d*w rows regardless of input size — THE reduction that makes
    100 TB frequency questions answerable on a laptop.

    ``weight``: count-min is a monoid over non-negative increments, so
    the sketch of raw occurrences equals the sketch of pre-aggregated
    (key, count) rows with ``weight`` = the count column — callers that
    already hold per-key counts fan out |keys| rows instead of
    |occurrences| (the ``sketch_countmin`` query uses this: its truth
    branch needs the per-word counts anyway).
    """
    inc = F.col(weight) if weight else F.lit(1)
    pairs = cm_pairs(
        occurrences.select(inc.alias("__inc"), "w"), carry=("__inc",)
    )
    return pairs.groupBy("seed", "bucket").agg(
        F.sum("__inc").cast("long").alias("cnt")
    )


@register(
    "sketch_countmin",
    oracle=f"""
    WITH occ AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents),
    occs AS (SELECT w FROM occ WHERE w <> ''),
    n AS (SELECT w, {_DUCK_N} AS n FROM occs),
    pairs AS (SELECT s.seed,
                     (([{", ".join(str(a) for a in _A)}][s.seed + 1] * n.n
                       + [{", ".join(str(b) for b in _B)}][s.seed + 1])
                      % 2147483647) % 256 AS bucket
              FROM n CROSS JOIN generate_series(0, 3) AS s(seed)),
    sketch AS (SELECT CAST(seed AS INT) AS seed, CAST(bucket AS INT) AS bucket,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM pairs GROUP BY seed, bucket),
    truth AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
              FROM occs GROUP BY w),
    keyn AS (SELECT DISTINCT w, {_DUCK_N} AS n FROM occs),
    probes AS (SELECT k.w, s.seed,
                      (([{", ".join(str(a) for a in _A)}][s.seed + 1] * k.n
                        + [{", ".join(str(b) for b in _B)}][s.seed + 1])
                       % 2147483647) % 256 AS bucket
               FROM keyn k CROSS JOIN generate_series(0, 3) AS s(seed)),
    est AS (SELECT p.w, min(sk.cnt) AS est_cnt
            FROM probes p
            JOIN sketch sk ON sk.seed = p.seed AND sk.bucket = p.bucket
            GROUP BY p.w)
    SELECT t.w, t.true_cnt, e.est_cnt
    FROM truth t JOIN est e ON t.w = e.w
    WHERE t.true_cnt >= 50
    """,
    survey="B10 extension (count-min sketch as a relational plan)",
    scale="""
    Sketch build: one narrow d-way fanout + one partial-aggregated
    groupBy capped at d*w = 1024 output rows — the shuffle carries the
    SKETCH, never the corpus, at any input size. The estimate probe
    broadcast-joins the 1024-row sketch back onto distinct keys. At
    100 TB: build per-partition sketches map-side and merge by summing
    buckets (count-min is a monoid — same groupBy plan), widen w to
    bound the over-count, and the estimate stays a broadcast lookup.
    Guarantee surfaced by the query: est_cnt >= true_cnt always (tested).
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter words: exact count vs count-min estimate, side by side.

    Single corpus pass: the per-word exact counts (needed for the truth
    side anyway) feed the sketch as weights — fanning out 4x|vocab|
    pre-aggregated rows instead of 4x|occurrences|, identical table by
    the monoid property. localCheckpoint materializes the word counts so
    the truth and sketch branches don't each rescan the corpus.
    """
    occs = words_of(table(spark, sf_dir, "documents"))
    wc = (
        occs.groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .localCheckpoint(eager=True)
    )
    sketch = countmin_sketch(wc, weight="true_cnt")
    truth = wc.filter(F.col("true_cnt") >= 50)
    probes = cm_pairs(truth, carry=("w", "true_cnt"))
    return (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("w", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select("w", "true_cnt", "est_cnt")
    )


@register(
    "sketch_bloom",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS w
                  FROM orders WHERE o_orderpriority = '1-URGENT'),
    n AS (SELECT w, {_DUCK_N} AS n FROM keys),
    bits AS (SELECT DISTINCT
                    (([{", ".join(str(a) for a in _A[:3])}][s.seed + 1] * n.n
                      + [{", ".join(str(b) for b in _B[:3])}][s.seed + 1])
                     % 2147483647) % 512 AS bit
             FROM n CROSS JOIN generate_series(0, 2) AS s(seed)),
    cand AS (SELECT CAST(c_custkey AS VARCHAR) AS w, c_custkey FROM customer),
    cn AS (SELECT w, c_custkey, {_DUCK_N} AS n FROM cand),
    probed AS (SELECT cn.c_custkey,
                      count(*) FILTER (WHERE b.bit IS NOT NULL) AS hits
               FROM cn CROSS JOIN generate_series(0, 2) AS s(seed)
               LEFT JOIN bits b
                 ON b.bit = (([{", ".join(str(a) for a in _A[:3])}][s.seed + 1]
                              * cn.n
                              + [{", ".join(str(b) for b in _B[:3])}][s.seed + 1])
                             % 2147483647) % 512
               GROUP BY cn.c_custkey),
    member AS (SELECT c_custkey, (hits = 3) AS maybe FROM probed),
    actual AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT')
    SELECT CAST(count(*) FILTER (WHERE m.maybe AND a.o_custkey IS NOT NULL)
                AS BIGINT) AS true_pos,
           CAST(count(*) FILTER (WHERE m.maybe AND a.o_custkey IS NULL)
                AS BIGINT) AS false_pos,
           CAST(count(*) FILTER (WHERE NOT m.maybe AND a.o_custkey IS NOT NULL)
                AS BIGINT) AS false_neg
    FROM member m LEFT JOIN actual a ON m.c_custkey = a.o_custkey
    """,
    survey="B10 extension (bloom filter as a relational plan)",
    scale="""
    The bit set is DISTINCT over k hashes of the key set — at most m=512
    rows however many keys go in, built by one partial-aggregated
    distinct and broadcast to every probe task. Probing is a broadcast
    left-join per hash + an all-bits-set check: the 100 TB use is
    semi-join pre-filtering (ship the 512-row bit set into the fact scan
    instead of shuffling the fact table into a real semi-join), exactly
    what Spark's runtime row-group bloom pushdown does internally.
    Correctness surfaced: false_neg = 0 ALWAYS (bloom guarantee, tested);
    false_pos bounded by (1-e^(-kn/m))^k.
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership of urgent-order custkeys probed by all customers."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # the urgent key set is computed ONCE (checkpointed) — it is both
    # the bloom build input and the exact-membership truth; the old
    # form ran the filter+distinct twice (r10 review)
    actual = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    keys = actual.select(F.col("o_custkey").cast("string").alias("w"))
    bits = bloom_bits(keys).distinct()

    cn = cust.select(
        "c_custkey", F.col("c_custkey").cast("string").alias("w")
    )
    probed = (
        bloom_bits(cn, carry=("c_custkey",))
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("c_custkey")
        .agg((F.count("hit") == _K).alias("maybe"))
    )
    flagged = probed.join(
        actual, probed.c_custkey == actual.o_custkey, "left"
    )
    return flagged.agg(
        F.count(
            F.when(F.col("maybe") & F.col("o_custkey").isNotNull(), 1)
        ).alias("true_pos"),
        F.count(
            F.when(F.col("maybe") & F.col("o_custkey").isNull(), 1)
        ).alias("false_pos"),
        F.count(
            F.when(~F.col("maybe") & F.col("o_custkey").isNotNull(), 1)
        ).alias("false_neg"),
    )


@register(
    "join_bloom_pruned",
    oracle="""
    WITH big AS (SELECT DISTINCT o_orderkey FROM orders
                 WHERE o_totalprice > 495000)
    SELECT l.l_returnflag, count(*) AS n_items,
           round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS qty
    FROM lineitem l JOIN big b ON l.l_orderkey = b.o_orderkey
    GROUP BY l.l_returnflag
    """,
    survey="B6 + B10 extension (bloom-pruned semi-join, the runtime-filter pattern)",
    scale="""
The sketch composed into a join — the runtime-filter pattern: the
    ~1.5k high-value orderkeys hash (pure int64 universal hash, no md5 —
    the key is already an integer) into a 16384-bit set PACKED into one
    2 KB bitmap row (word index -> 64-bit word via bit_or, r12 — a real
    Bloom filter, not a bit relation), broadcast once; membership is
    codegen'd shift/mask arithmetic in the scan filter, so the probe
    costs ZERO joins (the r11 plan paid three broadcast semi-joins for
    the same predicate). Only ~1-2% false positives plus true matches
    survive to the exact broadcast semi-join that removes the false
    positives. Result is EXACTLY the plain semi-join at any m/k. At
    100 TB the bitmap is KBs while the avoided shuffle is the fact
    table; keep the bit set an aggregate, not a literal IN-list — a
    4k-value literal bloated plan compile time 3x, measured.
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem pre-filtered by a bloom of high-value orderkeys, then exact."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        orders.filter(F.col("o_totalprice") > 495000)
        .select("o_orderkey")
        .distinct()
        .localCheckpoint(eager=True)  # reused by the exact join below
    )

    def probes(key_col):
        n = key_col % _P
        return [
            (F.lit(_A[i]) * n + F.lit(_B[i])) % _P % _BLOOM_M
            for i in range(_K)
        ]

    # the bloom as data: (word index -> 64-bit word) map in ONE row —
    # bit_or dedups probe collisions for free, map_from_entries keeps
    # absent words NULL (coalesced to 0 at probe time).
    # Packing invariant (ADVICE r12): probes() is NON-NEGATIVE by
    # construction — key % _P is in [0, _P), _A[i] * n tops out at
    # ~1.1e9 * 2.1e9 < 2^62 (no int64 wrap), and % _P % _BLOOM_M keeps
    # it in [0, _BLOOM_M). A future constant change that lets _A*n reach
    # 2^63 would flip `bit` negative and Java's shift masking would
    # alias words/positions (still correct — false positives only — but
    # silently degrading the filter); keep _A[i] * (_P - 1) < 2^63.
    bitmap = (
        big.select(
            F.explode(F.array(*probes(F.col("o_orderkey")))).alias("bit")
        )
        .groupBy(F.expr("cast(bit div 64 as int)").alias("wi"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(bit % 64 as int))")).alias(
                "wd"
            )
        )
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("wi", "wd")))
            ).alias("bm")
        )
    )
    pruned = (
        fan_out(li)
        .select(
            "l_orderkey",
            "l_quantity",
            "l_returnflag",
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(probes(F.col("l_orderkey")))
            ],
        )
        .crossJoin(F.broadcast(bitmap))
    )
    member = None
    for i in range(_K):
        c = F.expr(
            f"(shiftright(coalesce(element_at(bm, cast(p{i} div 64 as int)),"
            f" 0L), cast(p{i} % 64 as int)) & 1) = 1"
        )
        member = c if member is None else (member & c)
    pruned = pruned.filter(member).drop(
        "bm", *[f"p{i}" for i in range(_K)]
    )
    return (
        # no hard hint on the exact build side: `big` is a filtered fact
        # aggregate that scales with orders. It is localCheckpoint'd, so
        # the planner sees its MEASURED size and broadcasts it while it
        # fits (it does at every fixture tier — the plan pin holds
        # unhinted); past the threshold the bloom pre-filter still pays
        # and the exact join degrades to a shuffle. The bitmap keeps
        # its explicit broadcast — one row, bounded by m.
        pruned.join(big, pruned.l_orderkey == big.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            pround(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


#: HyperLogLog layout: m=64 buckets (6 bits), 54-bit rho domain
_HLL_M = 64


def _hll_full_n():
    """Unreduced 60-bit md5 integer of ``w`` (HLL keeps all bits;
    count-min's ``_n`` reduces mod P — deliberately different)."""
    return F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")


def hll_rho(keys: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(carry..., bucket, rho) — one HLL observation per key row.

    THE one definition of the register math (r10 review: it was pasted
    three times — sketch_hll, sketch_hll_merge with hardcoded 64s, and
    sketch_hll_intersection — so widening _HLL_M would have silently
    desynchronized the merge query). Integer div keeps the 60-bit value
    exact; rho = 55 - bitlength(remainder), 55 for remainder 0.
    """
    parts = keys.select(*carry, _hll_full_n().alias("full_n")).select(
        *carry,
        (F.col("full_n") % _HLL_M).alias("bucket"),
        F.expr(f"full_n div {_HLL_M}").alias("rem"),
    )
    return parts.select(
        *carry,
        "bucket",
        F.when(F.col("rem") == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin("rem")))
        .alias("rho"),
    )


def hll_registers(keys: DataFrame) -> DataFrame:
    """(bucket, m) — the HLL register relation of a key set."""
    return hll_rho(keys).groupBy("bucket").agg(F.max("rho").alias("m"))


def hll_state(mx: DataFrame) -> DataFrame:
    """1-row (s_ne, n_buckets): exact-integer harmonic-sum state."""
    return mx.agg(
        F.sum(F.expr("shiftleft(1L, cast(55 - m as int))")).alias("s_ne"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def hll_estimate_expr():
    """Estimate from (s_ne, n_buckets): the only float op in the chain."""
    two55 = 1 << 55
    return (
        F.lit(0.709 * _HLL_M * _HLL_M)
        * F.lit(float(two55))
        / (
            F.col("s_ne")
            + (F.lit(_HLL_M) - F.col("n_buckets")) * F.lit(two55)
        )
    )


@register(
    "sketch_hll",
    oracle="""
    WITH keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS w
                  FROM orders),
    h AS (SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS n FROM keys),
    parts AS (SELECT n % 64 AS bucket, n // 64 AS rem FROM h),
    rho AS (SELECT bucket,
                   CASE WHEN rem = 0 THEN 55
                        ELSE 55 - length(bin(rem)) END AS rho
            FROM parts),
    mx AS (SELECT bucket, max(rho) AS m FROM rho GROUP BY bucket),
    s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT) AS s_ne,
                 count(*) AS n_buckets
          FROM mx),
    truth AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders)
    SELECT t.exact_distinct,
           CAST(s.s_ne + (64 - s.n_buckets)
                * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS harmonic_denom,
           round(0.709 * 64 * 64
                 * (CAST(1 AS BIGINT) << 55)
                 / (s.s_ne + (64 - s.n_buckets)
                    * (CAST(1 AS BIGINT) << 55)), 4) AS hll_estimate
    FROM s, truth t
    """,
    survey="B10 extension (HyperLogLog as a relational plan)",
    scale="""
    The cardinality sketch completing the trilogy: state is 64 bucket
    maxima (max is a monoid — partial-aggregated, mergeable across
    partitions and days), built from one hash pass. The harmonic mean is
    computed as an EXACT integer sum of 2^(55-M_j) so the estimate is
    bit-identical regardless of aggregation order — no float enters
    until the final division. Spark's approx_count_distinct is this with
    engine-private state; this form is portable data. Accuracy
    ~1.04/sqrt(64) = 13% — widen m exactly like production HLL.
    """,
)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate of distinct custkeys vs the exact count."""
    orders = table(spark, sf_dir, "orders")
    keys = orders.select(
        F.col("o_custkey").cast("string").alias("w")
    ).distinct()
    s = hll_state(hll_registers(keys))
    truth = orders.agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    two55 = 1 << 55
    return (
        truth.crossJoin(F.broadcast(s))
        .select(
            "exact_distinct",
            (
                F.col("s_ne")
                + (F.lit(_HLL_M) - F.col("n_buckets")) * F.lit(two55)
            ).alias("harmonic_denom"),
            pround(hll_estimate_expr(), 4).alias("hll_estimate"),
        )
    )


@register(
    "sketch_quantile",
    oracle="""
    SELECT l_returnflag,
           count(*) AS cnt,
           TRUE AS p50_ok,
           TRUE AS p95_ok,
           TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    survey="B10 extension (approximate quantiles — the fourth sketch)",
    scale="""
    percentile_approx is Spark's Greenwald-Khanna sketch: mergeable
    bounded-size per-group state, one shuffle — the 100 TB quantile
    answer. accuracy=10000 bounds RANK error at n/10000 per group; the
    witness checks exactly that contract (round-5 redesign, ADVICE r4:
    the previous 5%-of-VALUE epsilon was a different, distribution-
    dependent claim a conforming sketch could legally exceed on a
    heavy-tailed column). ``pXX_ok`` verifies the approx value's exact
    rank interval [count(v < approx)+1, count(v <= approx)] intersects
    [target - eps, target + eps] with target = 1 + (n-1)*q and
    eps = n/accuracy + 1 (one rank of slack for the boundary
    convention). GK always returns a data element, so rank-of-value is
    the dual of value-at-rank and needs NO global sort: the exact side
    is one broadcast of the 3-row sketch output back onto the scan and
    one conditional-count aggregate (map-side combine) — the prior
    distributed global rank (range shuffle + full-width row ordering,
    49.5 s at the sf10 synthetic tier) is gone. The oracle asserts the
    booleans, so a sketch past its rank bound hash-mismatches.
    tests/test_sketches.py keeps the raw rank-error property.
    """,
)
def sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch p50/p95/p99 per return flag, rank-contract-checked."""
    li = table(spark, sf_dir, "lineitem")
    qs = (0.5, 0.95, 0.99)
    accuracy = 10000
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(*[F.lit(q) for q in qs]),
            F.lit(accuracy),
        ).alias("ap"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # rank-of-value witness: join the (3-row, broadcast) sketch output
    # back onto the scan and count, per group, how many values fall
    # strictly below / at-or-below each approx value. One scan, one
    # partial-aggregated shuffle of 3 rows x 6 longs — no sort, no
    # window, no global rank.
    vals = li.select("l_returnflag", F.col("l_extendedprice").alias("v"))
    counted = vals.join(F.broadcast(approx), "l_returnflag").groupBy(
        "l_returnflag"
    ).agg(
        F.first("cnt").alias("n"),
        F.first("ap").alias("ap"),
        *[
            agg
            for i in range(len(qs))
            for agg in (
                F.sum(
                    (F.col("v") < F.col("ap").getItem(i)).cast("long")
                ).alias(f"lt{i}"),
                F.sum(
                    (F.col("v") <= F.col("ap").getItem(i)).cast("long")
                ).alias(f"le{i}"),
            )
        ],
    )

    def ok(i: int, q: float):
        # GK contract: the returned value's rank is within n/accuracy of
        # the target position. The value occupies exact ranks
        # [lt+1, le]; pass iff that interval intersects target +- eps.
        target = F.lit(1.0) + (F.col("n") - 1) * F.lit(q)
        eps = F.col("n") / F.lit(float(accuracy)) + F.lit(1.0)
        return (F.col(f"le{i}") >= target - eps) & (
            F.col(f"lt{i}") + 1 <= target + eps
        )

    return counted.select(
        "l_returnflag",
        F.col("n").alias("cnt"),
        ok(0, qs[0]).alias("p50_ok"),
        ok(1, qs[1]).alias("p95_ok"),
        ok(2, qs[2]).alias("p99_ok"),
    )


@register(
    "sketch_countmin_merge",
    oracle=f"""
    WITH occs AS (SELECT CAST(doc_id % 2 AS INT) AS shard, w
                  FROM (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS w
                        FROM documents)
                  WHERE w <> ''),
    cells AS (SELECT shard, CAST(s.seed AS INT) AS seed,
                     CAST((([1103515245, 1103515247, 1103515249, 1103515251][s.seed + 1] * {_DUCK_N}
                            + [12345, 20264, 28183, 36102][s.seed + 1])
                           % 2147483647) % 256 AS INT) AS bucket
              FROM occs CROSS JOIN generate_series(0, 3) AS s(seed)),
    per_shard AS (SELECT shard, seed, bucket,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM cells GROUP BY shard, seed, bucket),
    merged AS (SELECT seed, bucket, CAST(sum(cnt) AS BIGINT) AS m_cnt
               FROM per_shard GROUP BY seed, bucket),
    direct AS (SELECT seed, bucket, CAST(count(*) AS BIGINT) AS d_cnt
               FROM cells GROUP BY seed, bucket),
    cmp AS (SELECT CAST(count(*) AS BIGINT) AS n_diff
            FROM merged m FULL JOIN direct d USING (seed, bucket)
            WHERE COALESCE(m.m_cnt, 0) <> COALESCE(d.d_cnt, 0)),
    topw AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
             FROM occs GROUP BY w
             ORDER BY true_cnt DESC, w LIMIT 1),
    probes AS (SELECT t.w, t.true_cnt, CAST(s.seed AS INT) AS seed,
                      CAST((([1103515245, 1103515247, 1103515249, 1103515251][s.seed + 1] * {_DUCK_N}
                             + [12345, 20264, 28183, 36102][s.seed + 1])
                            % 2147483647) % 256 AS INT) AS bucket
               FROM topw t CROSS JOIN generate_series(0, 3) AS s(seed)),
    est AS (SELECT p.w, p.true_cnt,
                   CAST(min(m.m_cnt) AS BIGINT) AS est_cnt
            FROM probes p
            JOIN merged m ON m.seed = p.seed AND m.bucket = p.bucket
            GROUP BY p.w, p.true_cnt)
    SELECT (SELECT n_diff FROM cmp) AS n_cell_mismatches,
           e.w AS top_word, e.true_cnt, e.est_cnt
    FROM est e
    """,
    survey="B10 extension (count-min shard-merge — the bucket-sum "
    "monoid twin of sketch_hll_merge's bucket-max proof)",
    scale="""
    The mergeability proof for the second sketch family: per-shard
    count-min tables (doc_id parity shards standing in for days or
    executors) merge by plain cell-wise SUM, and because non-negative
    addition is an associative monoid the merged d x w table is
    BIT-IDENTICAL to the table built directly over the union — the
    query proves it (n_cell_mismatches = 0 over a FULL join, so a cell
    missing on either side also fails) and then answers a real
    frequency question from the MERGED sketch alone (the corpus top
    word's estimate next to its true count). At 100 TB this is how
    rolling heavy-hitter dashboards work: store d*w integers per
    partition, merge k partitions for k*d*w row additions, never
    re-scan the corpus; the shard fan-out here is one narrow column
    added to the existing sketch plan, and every aggregate is
    map-side-combined integer arithmetic.
    """,
)
def sketch_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge per-shard count-min tables; prove cell-exact equality with
    the direct build, then probe the merged sketch for the top word."""
    d = table(spark, sf_dir, "documents")
    occs = (
        fan_out(d)
        .select(
            F.pmod("doc_id", F.lit(2)).cast("int").alias("shard"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    # ONE corpus scan: per-(shard, word) counts checkpointed, then every
    # branch (per-shard build, direct build, top-word truth) works from
    # the |vocab x shards|-sized relation by the weighted-monoid
    # property — the r10 review found the old form exploding the corpus
    # three times
    wc = (
        occs.groupBy("shard", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cells = cm_pairs(wc, carry=("shard", "cnt"))
    per_shard = cells.groupBy("shard", "seed", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    merged = per_shard.groupBy("seed", "bucket").agg(
        F.sum("cnt").cast("long").alias("m_cnt")
    )
    direct = cells.groupBy("seed", "bucket").agg(
        F.sum("cnt").cast("long").alias("d_cnt")
    )
    mism = (
        merged.join(direct, ["seed", "bucket"], "full")
        .select(
            F.when(
                F.coalesce("m_cnt", F.lit(0))
                != F.coalesce("d_cnt", F.lit(0)),
                1,
            )
            .otherwise(0)
            .alias("diff")
        )
        .agg(F.sum("diff").cast("long").alias("n_cell_mismatches"))
    )
    topw = (
        wc.groupBy("w")
        .agg(F.sum("cnt").cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "w")
        .limit(1)
    )
    probes = cm_pairs(topw, carry=("w", "true_cnt"))
    est = (
        probes.join(merged, ["seed", "bucket"])
        .groupBy("w", "true_cnt")
        .agg(F.min("m_cnt").cast("long").alias("est_cnt"))
        .select(F.col("w").alias("top_word"), "true_cnt", "est_cnt")
    )
    # both sides are 1-row aggregates — the bounded-crossJoin contract
    return mism.crossJoin(F.broadcast(est))


@register(
    "sketch_hll_merge",
    oracle="""
    WITH keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS w,
                         CAST(o_custkey % 2 AS INT) AS shard
                  FROM orders),
    h AS (SELECT shard, ('0x' || substr(md5(w), 1, 15))::BIGINT AS n
          FROM keys),
    parts AS (SELECT shard, n % 64 AS bucket, n // 64 AS rem FROM h),
    rho AS (SELECT shard, bucket,
                   CASE WHEN rem = 0 THEN 55
                        ELSE 55 - length(bin(rem)) END AS rho
            FROM parts),
    per_shard AS (SELECT shard, bucket, max(rho) AS m
                  FROM rho GROUP BY shard, bucket),
    merged AS (SELECT bucket, max(m) AS m FROM per_shard GROUP BY bucket),
    direct AS (SELECT bucket, max(rho) AS m FROM rho GROUP BY bucket),
    cmp AS (SELECT count(*) AS n_diff
            FROM merged g JOIN direct d
              ON d.bucket = g.bucket AND d.m <> g.m),
    est AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
                       AS s_ne,
                   count(*) AS n_buckets
            FROM merged)
    SELECT CAST((SELECT n_diff FROM cmp) AS BIGINT)
               AS n_bucket_mismatches,
           round(0.709 * 64 * 64 * (CAST(1 AS BIGINT) << 55)
                 / (e.s_ne + (64 - e.n_buckets)
                    * (CAST(1 AS BIGINT) << 55)), 4)
               AS merged_estimate
    FROM est e
    """,
    survey="B10 extension (HLL shard-merge — the mergeability property "
    "that makes sketches cluster/day-partitionable)",
    scale="""
    The property that makes HLL production-grade: per-shard sketches
    (here: custkey parity shards standing in for day partitions or
    executors) merge by plain bucket-max, and because max is an
    associative idempotent monoid the merged sketch is BIT-IDENTICAL to
    the sketch built directly over the union — the query proves it
    (n_bucket_mismatches = 0) and reports the merged estimate. At
    100 TB this is how daily distinct-count rollups work: store 64
    integers per day, never re-scan history; merging k days costs k×64
    rows. Exact integer arithmetic end to end.
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge per-shard HLL sketches; prove equality with the direct build."""
    orders = table(spark, sf_dir, "orders")
    # checkpointed: the per-shard and direct builds both derive from the
    # same distinct-keys+hash pipeline — without this, Spark plans the
    # scan + distinct + md5 twice (no common-subplan dedup; r10 review).
    # Register math via the shared hll_rho: the old copy hardcoded 64
    # where the siblings use _HLL_M, a silent drift trap.
    keys = (
        orders.select(
            F.col("o_custkey").cast("string").alias("w"),
            F.pmod("o_custkey", F.lit(2)).cast("int").alias("shard"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    rho = hll_rho(keys, carry=("shard",))
    per_shard = rho.groupBy("shard", "bucket").agg(F.max("rho").alias("m"))
    merged = per_shard.groupBy("bucket").agg(F.max("m").alias("m"))
    direct = rho.groupBy("bucket").agg(F.max("rho").alias("m"))
    n_diff = (
        merged.alias("g")
        .join(
            direct.alias("d"),
            (F.col("d.bucket") == F.col("g.bucket"))
            & (F.col("d.m") != F.col("g.m")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bucket_mismatches"))
    )
    est = hll_state(merged)
    return n_diff.crossJoin(est).select(
        "n_bucket_mismatches",
        pround(hll_estimate_expr(), 4).alias("merged_estimate"),
    )


def mg_merge(wc: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """(merged, err): Misra-Gries offset summaries per ``seg``, merged.

    ``wc`` is (seg, w, cnt) — exact per-segment counts. Each segment's
    summary keeps keys with cnt > thr_seg (thr_seg = the (k+1)-th
    largest per-segment count, 0 if the segment holds <= k keys), at
    estimate cnt - thr_seg; ``merged`` sums surviving estimates per key
    and ``err`` is the single-row SUM(thr_seg) merge-error bound
    (Agarwal et al. 2013): est <= true <= est + err for EVERY key,
    surviving or not. Property-tested against exact counts on arbitrary
    multisets (tests/test_properties.py).
    """
    from pyspark.sql.window import Window

    w_rk = Window.partitionBy("seg").orderBy(F.desc("cnt"), "w")
    top = (
        wc.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= k + 1)
    )
    thr = top.groupBy("seg").agg(
        F.when(F.count(F.lit(1)) == k + 1, F.min("cnt"))
        .otherwise(F.lit(0))
        .alias("thr")
    )
    summ = (
        top.join(F.broadcast(thr), "seg")
        .filter(F.col("cnt") > F.col("thr"))
        .select("w", (F.col("cnt") - F.col("thr")).alias("est"))
    )
    merged = summ.groupBy("w").agg(F.sum("est").alias("est_cnt"))
    err = thr.agg(F.coalesce(F.sum("thr"), F.lit(0)).alias("err_bound"))
    return merged, err


_MG_K = 64  # Misra-Gries counters per segment
_MG_SEGS = 4  # deterministic ingestion segments (doc_id mod)


@register(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    bg AS (SELECT doc_id % {_MG_SEGS} AS seg,
                  unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS w
           FROM words WHERE len(ws) >= 2),
    wc AS (SELECT seg, w, count(*) AS cnt FROM bg GROUP BY seg, w),
    top AS (SELECT * FROM (
                SELECT seg, w, cnt,
                       row_number() OVER (PARTITION BY seg
                                          ORDER BY cnt DESC, w) AS rk
                FROM wc) WHERE rk <= {_MG_K + 1}),
    thr AS (SELECT seg,
                   CASE WHEN count(*) = {_MG_K + 1} THEN min(cnt)
                        ELSE 0 END AS thr
            FROM top GROUP BY seg),
    summ AS (SELECT t.seg, t.w, t.cnt - h.thr AS est
             FROM top t JOIN thr h ON t.seg = h.seg
             WHERE t.cnt > h.thr),
    merged AS (SELECT w, CAST(sum(est) AS BIGINT) AS est_cnt
               FROM summ GROUP BY w),
    err AS (SELECT CAST(sum(thr) AS BIGINT) AS err_bound FROM thr),
    truth AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS true_cnt
              FROM wc GROUP BY w)
    SELECT m.w, m.est_cnt, e.err_bound, t.true_cnt,
           (m.est_cnt <= t.true_cnt
            AND t.true_cnt <= m.est_cnt + e.err_bound) AS within_bound
    FROM merged m CROSS JOIN err e JOIN truth t ON m.w = t.w
    ORDER BY m.est_cnt DESC, m.w LIMIT 25
    """,
    survey="E (mergeable heavy-hitter summaries — Misra-Gries offset "
    "form per ingestion segment, merged with additive error; completes "
    "the shard-merge sketch family next to sketch_countmin_merge / "
    "sketch_hll_merge)",
    scale="""
    Misra-Gries in its deterministic OFFSET form: each ingestion segment
    keeps at most k=64 (key, count - threshold) counters, where the
    threshold is the (k+1)-th largest per-segment count — the summary
    under-counts any key by at most thr_seg, and merging S segment
    summaries by summing surviving estimates gives the textbook merge
    bound est <= true <= est + SUM(thr_seg) (Agarwal et al. 2013,
    "Mergeable Summaries"), which the ``within_bound`` witness column
    asserts IN-PLAN against the exact counts. The plan is
    scale-deliberate three ways: (1) per-segment counts partial-aggregate
    map-side, so the shuffle carries |segments| x |vocab_seg| rows, never
    occurrences; (2) the rk <= k+1 filter compiles to Spark's
    WindowGroupLimit pushdown — each segment's sort keeps a bounded
    top-(k+1) heap per task instead of a full per-segment sort; (3) the
    merged summary is at most S*k rows however large the corpus, so the
    final merge + truth join is driver-trivial. At 100 TB segments are
    real ingestion shards (one summary per shard, merged hourly); the
    truth side exists here only because the witness demands it — the
    production path ships summaries alone, which is the point of the
    sketch. Segment assignment is content-derived (doc_id mod), so the
    result is partition-layout-independent and engine-portable.
    """,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 bigrams by merged Misra-Gries estimate, bound-checked."""
    from ..llm.dedup import shingles

    docs = table(spark, sf_dir, "documents")
    wc = (
        shingles(docs, k=2)
        .select((F.col("doc_id") % _MG_SEGS).alias("seg"), F.col("sh").alias("w"))
        .groupBy("seg", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    merged, err = mg_merge(wc, _MG_K)
    truth = wc.groupBy("w").agg(F.sum("cnt").alias("true_cnt"))
    return (
        merged.crossJoin(F.broadcast(err))
        .join(truth, "w")
        .select(
            "w",
            "est_cnt",
            "err_bound",
            "true_cnt",
            (
                (F.col("est_cnt") <= F.col("true_cnt"))
                & (F.col("true_cnt") <= F.col("est_cnt") + F.col("err_bound"))
            ).alias("within_bound"),
        )
        .orderBy(F.desc("est_cnt"), "w")
        .limit(25)
    )


@register(
    "sketch_join_size",
    oracle=f"""
    WITH p AS (SELECT CAST(user_id AS VARCHAR) AS w, count(*) AS c
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
    v AS (SELECT CAST(user_id AS VARCHAR) AS w, count(*) AS c
          FROM events WHERE event_type = 'view' GROUP BY 1),
    np AS (SELECT w, c, {_DUCK_N} AS n FROM p),
    nv AS (SELECT w, c, {_DUCK_N} AS n FROM v),
    sa AS (SELECT s.seed,
                  (([{", ".join(str(a) for a in _A)}][s.seed + 1] * np.n
                    + [{", ".join(str(b) for b in _B)}][s.seed + 1])
                   % 2147483647) % 256 AS bucket,
                  sum(np.c) AS cnt
           FROM np CROSS JOIN generate_series(0, 3) AS s(seed)
           GROUP BY 1, 2),
    sb AS (SELECT s.seed,
                  (([{", ".join(str(a) for a in _A)}][s.seed + 1] * nv.n
                    + [{", ".join(str(b) for b in _B)}][s.seed + 1])
                   % 2147483647) % 256 AS bucket,
                  sum(nv.c) AS cnt
           FROM nv CROSS JOIN generate_series(0, 3) AS s(seed)
           GROUP BY 1, 2),
    ip AS (SELECT sa.seed, sum(sa.cnt * sb.cnt) AS prod
           FROM sa JOIN sb ON sa.seed = sb.seed AND sa.bucket = sb.bucket
           GROUP BY sa.seed),
    est AS (SELECT min(prod) AS est_join_size FROM ip),
    tru AS (SELECT COALESCE(sum(p.c * v.c), 0) AS true_join_size
            FROM p JOIN v ON p.w = v.w)
    SELECT CAST(e.est_join_size AS BIGINT) AS est_join_size,
           CAST(t.true_join_size AS BIGINT) AS true_join_size,
           (e.est_join_size >= t.true_join_size) AS never_under
    FROM est e CROSS JOIN tru t
    """,
    survey="E (join-size estimation via count-min inner product — the "
    "AMS/CM cardinality estimate a cost-based planner consults BEFORE "
    "committing to a join order; est >= true guaranteed, witnessed "
    "in-plan)",
    scale="""
    |A join B| on a key equals the inner product of the two key-frequency
    vectors; the count-min estimate is min over d rows of
    sum_bucket(cmA[b] * cmB[b]), which NEVER under-estimates (every CM
    cell over-counts, products and sums preserve it — the witness column
    asserts this against the exact size). Why it matters at 100 TB: the
    exact join size of a skewed self-join can be quadratic, but the
    estimate costs two d x w = 1024-row sketches — built map-side from
    per-key counts (countmin_sketch's weighted monoid form), joined on
    (seed, bucket) in microseconds. This is the planner's pre-flight
    check for the events purchase x view self-join whose TRUE size the
    oracle computes from the aggregated per-user counts (never the raw
    pair explosion). Sketches are mergeable across shards (bucket-wise
    SUM, sketch_countmin_merge's proof), so per-day sketches answer
    any date-range join-size question without rescanning history.
    """,
)
def sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |purchase x view| per-user self-join size from sketches."""
    ev = table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(F.col("user_id").cast("string").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)  # shared by sketch + truth
        )

    p, v = side("purchase"), side("view")
    sa = countmin_sketch(p, weight="c")
    sb = countmin_sketch(v, weight="c")
    ip = (
        sa.alias("a")
        .join(
            sb.alias("b"),
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy("a.seed")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("prod"))
    )
    est = ip.agg(F.min("prod").alias("est_join_size"))
    tru = (
        p.join(v, "w")
        .agg(
            F.coalesce(F.sum(p.c * v.c), F.lit(0))
            .cast("long")
            .alias("true_join_size")
        )
    )
    return est.crossJoin(tru).select(
        F.col("est_join_size").cast("long").alias("est_join_size"),
        "true_join_size",
        (F.col("est_join_size") >= F.col("true_join_size")).alias(
            "never_under"
        ),
    )


@register(
    "sketch_hll_intersection",
    oracle="""
    WITH ka AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS w
                FROM orders WHERE o_orderstatus = 'F'),
    kb AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS w
           FROM orders WHERE o_orderstatus = 'O'),
    ha AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS n FROM ka),
    hb AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS n FROM kb),
    ma AS (SELECT n % 64 AS bucket,
                  max(CASE WHEN n // 64 = 0 THEN 55
                           ELSE 55 - length(bin(n // 64)) END) AS m
           FROM ha GROUP BY 1),
    mb AS (SELECT n % 64 AS bucket,
                  max(CASE WHEN n // 64 = 0 THEN 55
                           ELSE 55 - length(bin(n // 64)) END) AS m
           FROM hb GROUP BY 1),
    mu AS (SELECT bucket, max(m) AS m
           FROM (SELECT * FROM ma UNION ALL SELECT * FROM mb)
           GROUP BY bucket),
    ea AS (SELECT 0.709 * 64 * 64 * (CAST(1 AS BIGINT) << 55)
                  / (sum(CAST(1 AS BIGINT) << (55 - m))
                     + (64 - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
           FROM ma),
    eb AS (SELECT 0.709 * 64 * 64 * (CAST(1 AS BIGINT) << 55)
                  / (sum(CAST(1 AS BIGINT) << (55 - m))
                     + (64 - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
           FROM mb),
    eu AS (SELECT 0.709 * 64 * 64 * (CAST(1 AS BIGINT) << 55)
                  / (sum(CAST(1 AS BIGINT) << (55 - m))
                     + (64 - count(*)) * (CAST(1 AS BIGINT) << 55)) AS e
           FROM mu),
    truth AS (SELECT count(*) AS exact_intersection
              FROM (SELECT w FROM ka INTERSECT SELECT w FROM kb))
    SELECT round(ea.e, 4) AS est_a,
           round(eb.e, 4) AS est_b,
           round(eu.e, 4) AS est_union,
           round(ea.e + eb.e - eu.e, 4) AS est_intersection,
           CAST(t.exact_intersection AS BIGINT) AS exact_intersection
    FROM ea, eb, eu, truth t
    """,
    survey="B10/E3 extension (HLL set algebra: |A∩B| by inclusion-"
    "exclusion over MERGED registers — union of HLLs is bucket-wise "
    "max, so the intersection of two populations is answerable from "
    "their stored sketches alone, no rescan)",
    scale="""
    The payoff of keeping HLL state as data: HLL(A ∪ B) is the
    bucket-wise MAX of the two 64-row register relations (max is the
    monoid sketch_hll_merge proved), so |A ∩ B| = E(A) + E(B) − E(A∪B)
    computes entirely from stored sketches — the 100 TB question "how
    many users did both campaigns touch" costs three 64-row aggregations
    instead of a distinct-intersect over the raw populations. Error
    compounds: each estimate carries ~1.04/sqrt(64) relative error and
    the subtraction amplifies it when the intersection is small relative
    to the union (the documented limitation — production uses larger m
    or a theta sketch when the overlap ratio is tiny; the exact witness
    column makes the achieved error visible per release). All register
    arithmetic is exact integers until the final division, so both
    engines agree bit-for-bit at 4-decimal rounding.
    """,
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A∩B| of two customer populations from merged HLL registers."""
    orders = table(spark, sf_dir, "orders")
    # ONE scan + distinct feeds both register builds AND the exact
    # truth (the old form planned four independent orders scans; r10
    # review); |statuses x custkeys|-sized, checkpointed
    base = (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .select("o_orderstatus", "o_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def mx_of(status: str) -> DataFrame:
        return hll_registers(
            base.filter(F.col("o_orderstatus") == status).select(
                F.col("o_custkey").cast("string").alias("w")
            )
        )

    def est_of(mx: DataFrame, alias: str) -> DataFrame:
        return hll_state(mx).select(hll_estimate_expr().alias(alias))

    ma, mb = mx_of("F"), mx_of("O")
    mu = ma.unionByName(mb).groupBy("bucket").agg(F.max("m").alias("m"))
    ea, eb, eu = est_of(ma, "ea"), est_of(mb, "eb"), est_of(mu, "eu")
    truth = (
        base.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(
            base.filter(F.col("o_orderstatus") == "O").select("o_custkey")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(truth)
        .select(
            pround("ea", 4).alias("est_a"),
            pround("eb", 4).alias("est_b"),
            pround("eu", 4).alias("est_union"),
            pround(F.col("ea") + F.col("eb") - F.col("eu"), 4).alias(
                "est_intersection"
            ),
            F.col("exact_intersection").cast("long").alias(
                "exact_intersection"
            ),
        )
    )

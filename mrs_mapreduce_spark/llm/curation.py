"""Corpus-curation operators beyond filtering/dedup (SURVEY.md §2.E).

The remaining steps of a pretraining data pipeline once quality filters
and dedup have run: packing documents into fixed-length context windows,
decontaminating the corpus against a held-out benchmark set, flagging
high-repetition documents (Gopher-style), and computing domain mixture
weights for resampling. No reference counterpart — Mrs predates LLM data
work — but each is the operator a Mrs user would hand-compose from
map/reduce primitives; here each is a pure DataFrame plan with an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import cached_count, table
from ..exprs import pround, pround0
from ..registry import register

#: context window length (tokens) for packing
_CTX = 512
#: documents per prefix-sum bucket (the distributed-scan unit)
_BUCKET = 256

#: bucket count above which the offset cumsum goes two-level: a 64k-row
#: single-task window is trivial; past it (>16.7M docs at _BUCKET=256)
#: the super-bucket level bounds every task (semdedup gate discipline)
_PACK_TWO_LEVEL_GATE = 65536


def _bucket_offsets(btok: DataFrame, span: int, two_level: bool) -> DataFrame:
    """(bucket, offset): each bucket's cumulative token count BEFORE it.

    ``btok`` is the per-bucket subtotal relation (bucket, btok). One
    level = a single cumsum window over all buckets (single task of
    N/_BUCKET rows — fine below the gate, the semdedup flat-argmin
    precedent). Two levels = cumsum over N/span^2 super-buckets, then a
    span-bounded within-super window: no single task ever sees more
    than max(span, N/span^2) rows — the 100 TB shape. Both produce
    identical offsets (pinned by unit test).
    """
    if not two_level:
        w_bucket = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return btok.select(
            "bucket",
            F.coalesce(F.sum("btok").over(w_bucket), F.lit(0))
            .cast("long")
            .alias("offset"),
        )
    btok = btok.withColumn("super", F.expr(f"bucket div {span}"))
    w_super = Window.orderBy("super").rowsBetween(
        Window.unboundedPreceding, -1
    )
    super_offsets = (
        btok.groupBy("super")
        .agg(F.sum("btok").alias("stok"))
        .select(
            "super",
            F.coalesce(F.sum("stok").over(w_super), F.lit(0))
            .cast("long")
            .alias("super_offset"),
        )
    )
    w_in_super = Window.partitionBy("super").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # no hard broadcast hint: super_offsets grows ~N/span^2 with the
    # corpus, and the bounded-only hint policy applies to it exactly as
    # to the tpch/text/iterative relations it was stripped from — AQE
    # broadcasts from measured stats while it is small, and a third
    # level (not a silently-honored oversized broadcast) is the answer
    # if it ever outgrows that.
    return btok.join(super_offsets, "super").select(
        "bucket",
        (
            F.col("super_offset")
            + F.coalesce(F.sum("btok").over(w_in_super), F.lit(0))
        )
        .cast("long")
        .alias("offset"),
    )


def _pack_regime(rows: int, btok: DataFrame) -> tuple[bool, DataFrame]:
    """Decide one- vs two-level prefix sum from the BUCKET-DOMAIN size.

    ceil(rows/span) is the wrong gate input: with a sparse/gappy doc_id
    domain (filtered or strided-key corpora) each bucket can hold far
    fewer than span docs, so rows/span UNDER-counts buckets and would
    keep the single-task cumsum window past the gate. Two provable
    metadata-count bounds decide for free (bucket count is always
    <= row count and >= ceil(rows/span)); only when they straddle the
    gate is the exact bucket count measured on the (tiny,
    <= n_buckets-row) subtotal relation — cached so the probe job and
    the offsets plan share one aggregation pass.
    """
    if rows <= _PACK_TWO_LEVEL_GATE:
        return False, btok  # bucket count <= rows <= gate, provably
    if (rows + _BUCKET - 1) // _BUCKET > _PACK_TWO_LEVEL_GATE:
        # dense-domain overflow — PROVABLE only when ``rows`` is the
        # exact row count; callers may pass an upper bound (the
        # curate pipeline passes the pre-filter table count), where
        # this picks two-level conservatively without a probe job.
        # Output is regime-independent (pinned), so a heavily-filtered
        # corpus pays only the two-level plan shape, never correctness.
        return True, btok
    # eager localCheckpoint, not cache(): the probe count and the offsets
    # plan still share one aggregation pass, but checkpoint blocks are
    # GC-cleaned by the ContextCleaner when this DataFrame dies, whereas
    # CacheManager entries would accumulate per invocation for the life
    # of the session (nothing here ever unpersists).
    btok = btok.localCheckpoint(eager=True)
    return btok.count() > _PACK_TWO_LEVEL_GATE, btok


@register(
    "corpus_pack_contexts",
    oracle=f"""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
               FROM documents),
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
    """,
    survey="E15 (context packing: concatenate-and-chunk for pretraining)",
    scale=f"""
    The standard pretraining packing step: documents concatenated in
    doc_id order and chunked into {_CTX}-token windows; a document
    belongs to the window where it STARTS (floor(prefix_tokens / {_CTX})).
    The oracle states it as one global-ORDER-BY window (fine for DuckDB);
    the Spark plan is the DISTRIBUTED prefix sum — a global window would
    serialize 100 TB through one task. Per-bucket (doc_id div {_BUCKET})
    subtotals are a partial-aggregated groupBy; their cumsum is gated
    like semdedup's assignment: below 64k buckets one window over the
    subtotal relation (a trivial single task), above it a TWO-LEVEL
    scheme — per-super (bucket div {_BUCKET}) cumsum over N/{_BUCKET}^2
    rows, then a {_BUCKET}-bounded within-super window — so no single
    task ever sees more than max({_BUCKET}, N/{_BUCKET}^2) rows at any
    corpus. Both regimes produce identical offsets (unit-pinned). The
    offsets join back to docs is co-partitioned with the in-bucket
    window's shuffle (no hard broadcast hint — the relation grows with
    the corpus). cum_before arithmetic is integer div (never float /),
    keeping >2^53 token counts exact.
    """,
)
def corpus_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-length context windows (greedy chunking)."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return _pack_windows(d, cached_count(docs))


def _pack_windows(d: DataFrame, rows_bound: int) -> DataFrame:
    """(doc_id, n_tok) -> per-context packing aggregate.

    The distributed prefix-sum pack shared by ``corpus_pack_contexts``
    and the end-to-end ``corpus_curate_pipeline``. ``rows_bound`` is
    any UPPER bound on the input's row count (the pre-filter table
    count is fine): the regime gate only uses it as a provable bound
    on the bucket-domain size and falls back to the exact subtotal
    count when the bounds are inconclusive (:func:`_pack_regime`).
    """
    d = d.withColumn("bucket", F.expr(f"doc_id div {_BUCKET}"))
    btok = d.groupBy("bucket").agg(
        F.sum("n_tok").cast("long").alias("btok")
    )
    two_level, btok = _pack_regime(rows_bound, btok)
    offsets = _bucket_offsets(btok, _BUCKET, two_level=two_level)
    w_doc = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # the hint is gated with the regime: below the gate the offsets
    # relation is PROVABLY <= 64k rows (broadcast is justified, and the
    # fixture plan keeps zero AQE barriers); above it the relation grows
    # with the corpus, so no hint — the join co-partitions with the
    # in-bucket window's bucket shuffle, costing nothing extra.
    if not two_level:
        offsets = F.broadcast(offsets)
    packed = d.join(offsets, "bucket").select(
        "doc_id",
        "n_tok",
        (
            F.col("offset")
            + F.coalesce(F.sum("n_tok").over(w_doc), F.lit(0))
        )
        .cast("long")
        .alias("cum_before"),
    )
    return (
        packed.select(
            "doc_id",
            "n_tok",
            F.expr(f"cast(cum_before div {_CTX} as bigint)").alias(
                "ctx_id"
            ),
        )
        .groupBy("ctx_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "corpus_decontaminate",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM words WHERE len(ws) >= 3),
    bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    flagged AS (SELECT DISTINCT s.doc_id
                FROM sh s JOIN bsh b USING (sh)
                WHERE s.doc_id % 97 <> 0)
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.lang
    """,
    survey="E15 (decontamination: benchmark n-gram overlap removal)",
    scale="""
    Test-set decontamination: a document is contaminated if it shares any
    3-word shingle with the benchmark set (here the doc_id % 97 == 0
    slice stands in for a held-out eval set). The benchmark's distinct
    shingle set is SMALL by construction (eval sets are thousands of
    docs, not billions) — broadcast it and the corpus-side probe is a
    map-side semi-join: no shuffle of corpus shingles at all. At 100 TB
    the probe stays broadcast; only the per-doc distinct of flagged ids
    shuffles, and that carries bare int64s. If the benchmark ever
    outgrows broadcast range, swap in the bloom runtime-filter pattern
    (join_bloom_pruned) without changing semantics.
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus docs sharing a 3-shingle with the benchmark slice."""
    from .dedup import shingles

    docs = table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    is_bench = F.col("doc_id") % 97 == 0
    flagged = contaminated(sh.filter(~is_bench), sh.filter(is_bench))
    return (
        docs.filter(~is_bench)
        .join(flagged.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
    )


def contaminated(sh: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """Distinct doc_ids of the (doc_id, sh) shingle relation ``sh`` that
    share a shingle with ``bench_sh``: a broadcast semi-probe against
    the benchmark's distinct shingle set."""
    bench = F.broadcast(bench_sh.select("sh").distinct())
    return sh.join(bench, "sh", "left_semi").select("doc_id").distinct()


def observed(
    df: DataFrame, funnel: dict[str, Observation], name: str, materialize=True
) -> DataFrame:
    """``df`` with its row count observed as ``funnel[name].get["n"]`` in
    the pass that computes it: a pipeline stage counted where its work
    runs, with no count action of its own. ``materialize`` runs that
    pass now (a local checkpoint, so later stages read the stage once);
    pass False when the caller's next action, a sink write or the next
    stage's checkpoint, is that single pass."""
    obs = funnel[name] = Observation(name)
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    return df.localCheckpoint(eager=True) if materialize else df


@register(
    "text_repetition",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) >= 2)
    SELECT doc_id,
           len(bg) AS n_bigrams,
           round(1 - len(list_distinct(bg)) * 1.0 / len(bg), 4)
               AS dup_ratio,
           CAST(1 - len(list_distinct(bg)) * 1.0 / len(bg) > 0.1 AS INT)
               AS flagged
    FROM b
    """,
    survey="E15 (repetition-ratio quality gate, Gopher-style)",
    scale="""
    The Gopher duplicated-n-gram filter: fraction of repeated bigrams per
    document, flag above 10%. Computed entirely inside codegen with
    higher-order array functions (build the bigram array, compare its
    size to its distinct size) — no explode, no shuffle, no Python; the
    whole operator is a scan-fused projection that scales strictly
    linearly and pushes column pruning down to (doc_id, text).
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-bigram ratio with a 10% flag threshold."""
    d = table(spark, sf_dir, "documents")
    bg = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    dup = 1 - F.size(F.array_distinct("bg")) * 1.0 / F.size("bg")
    return (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select("doc_id", bg.alias("bg"))
        .select(
            "doc_id",
            F.size("bg").alias("n_bigrams"),
            pround(dup, 4).alias("dup_ratio"),
            (dup > 0.1).cast("int").alias("flagged"),
        )
    )


@register(
    "corpus_mix_weights",
    oracle="""
    WITH lt AS (SELECT lang,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS toks
                FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total,
                   count(*) AS n_langs
            FROM lt)
    SELECT lang, toks,
           round(toks * 1.0 / total, 4) AS share,
           round((1.0 / n_langs) / (toks * 1.0 / total), 4) AS weight
    FROM lt CROSS JOIN tot
    """,
    survey="E15 (domain mixture weights for corpus resampling)",
    scale="""
    Mixture reweighting: per-domain token share vs a uniform target; the
    weight is the resampling rate that equalizes domains (feed it to
    sample_stratified's rate table). One partial-aggregated groupBy on a
    low-cardinality key produces a domain relation of dozens of rows; the
    corpus-wide total is a GLOBAL WINDOW over that tiny relation — not a
    cross join against a separate aggregate, which would re-derive the
    groupBy lineage and scan the corpus twice. The single-partition
    window exchange moves dozens of rows. The identical float formula on
    both sides keeps the rounded doubles hash-stable.
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token shares and uniform-target resampling weights."""
    d = table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    w_all = Window.partitionBy()
    share = F.col("toks") * 1.0 / F.sum("toks").over(w_all)
    return lt.select(
        "lang",
        "toks",
        pround(share, 4).alias("share"),
        pround(
            (F.lit(1.0) / F.count(F.lit(1)).over(w_all)) / share, 4
        ).alias("weight"),
    )


@register(
    "corpus_shuffle",
    oracle="""
    SELECT doc_id, shuffle_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY md5('epoch7:' || doc_id),
                                       doc_id) AS BIGINT) AS shuffle_rank
        FROM documents)
    WHERE shuffle_rank <= 100
    """,
    survey="E (deterministic corpus shuffle — reproducible training order)",
    scale="""
    Training-order shuffling that any worker can reproduce: the sort key
    is md5(salt || doc_id), so changing the salt re-shuffles and fixing
    it makes the epoch order a pure function of the corpus — no RNG
    state, no seed file. The declared top-100 runs the house top-k plan
    (orderBy+limit = TakeOrderedAndProject per-partition heaps; the rank
    window sees only the 100 survivors — rule 7, same as text_bm25). At
    scale the full-corpus artifact is the ordered WRITE, not a rank
    column: repartitionByRange on the hash key + sortWithinPartitions
    gives the same global order physically laid out across files, and
    readers consume partitions in key order (zipWithIndex only if
    explicit ranks are required).
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 docs of the salt-keyed deterministic shuffle order."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")))
    # house top-k discipline (SCALE.md rule 7): global top-100 via
    # orderBy+limit (TakeOrderedAndProject — per-partition heaps), THEN
    # rank the 100 survivors; never a corpus-wide single-task window
    # with a post-filter.
    top = docs.select("doc_id", key.alias("_k")).orderBy("_k", "doc_id").limit(100)
    w = Window.orderBy("_k", "doc_id")
    return top.select(
        "doc_id", F.row_number().over(w).alias("shuffle_rank")
    )


@register(
    "corpus_temperature_mix",
    oracle="""
    WITH lt AS (SELECT lang,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS toks
                FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM lt),
    scaled AS (SELECT lang, toks,
                      CAST(floor(pow(toks * 1.0 / total, 0.7)
                                 * 1000000000 + 0.5) AS BIGINT) AS nano
               FROM lt CROSS JOIN tot),
    z AS (SELECT CAST(sum(nano) AS BIGINT) AS znano FROM scaled)
    SELECT lang, toks,
           round(nano * 1.0 / znano, 6) AS p_sample,
           round((nano * 1.0 / znano)
                 / (toks * 1.0 / (SELECT total FROM tot)), 4)
               AS boost
    FROM scaled CROSS JOIN z
    """,
    survey="E15 extension (temperature-scaled multilingual sampling — "
    "the mC4/multilingual-LLM mixture rule)",
    scale="""
    Temperature sampling p_d ∝ share_d^τ (τ=0.7): the standard fix for
    low-resource languages being drowned by natural shares. The
    per-domain pow terms are quantized to int64 nano-units BEFORE the
    normalizer sum, so the partition function is an exact integer on
    both engines and the probabilities hash-match regardless of
    aggregation order (the raw double sum over domains would be
    order-dependent). Same tiny-relation shape as corpus_mix_weights:
    one partial-aggregated groupBy; every downstream arithmetic runs on
    the dozens-of-rows domain relation. boost = p_sample / natural
    share is the per-domain resampling rate to feed sample_stratified.
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau=0.7) language sampling probabilities."""
    d = table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    w_all = Window.partitionBy()
    total = F.sum("toks").over(w_all)
    scaled = lt.select(
        "lang",
        "toks",
        F.floor(
            F.pow(F.col("toks") * 1.0 / total, 0.7) * 1_000_000_000 + 0.5
        )
        .cast("long")
        .alias("nano"),
        total.alias("total"),
    )
    znano = F.sum("nano").over(w_all)
    p = F.col("nano") * 1.0 / znano
    return scaled.select(
        "lang",
        "toks",
        pround(p, 6).alias("p_sample"),
        pround(p / (F.col("toks") * 1.0 / F.col("total")), 4).alias("boost"),
    )


@register(
    "corpus_curate_pipeline",
    oracle=f"""
    WITH bounds AS (
      SELECT lang,
             quantile_cont(n_chars, 0.10) AS lo,
             quantile_cont(n_chars, 0.90) AS hi
      FROM documents GROUP BY lang),
    q AS (SELECT d.doc_id, d.text
          FROM documents d JOIN bounds b ON d.lang = b.lang
          WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi),
    keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
    t AS (SELECT q.doc_id, len(string_split(q.text, ' ')) AS n_tok
          FROM q JOIN keep USING (doc_id)),
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
    """,
    survey="E14 (end-to-end curation: quality filter -> exact dedup -> "
    "context packing as ONE declared, oracle-checked plan)",
    scale=f"""
    The production shape examples/curate_corpus.py narrates, declared as
    one falsifiable query: per-language p10..p90 length band (the
    corpus_length_filter stage — tiny percentile aggregate broadcast
    onto the corpus), exact dedup keeping the lowest doc_id per content
    hash (the dedup_exact discipline: groupBy a 128-bit hash, never the
    text; the survivors join is id-keyed so document text crosses the
    wire once), then the distributed prefix-sum pack over survivors
    (shared _pack_windows). The stages COMPOSE as one Catalyst plan —
    no materialization barriers between them, so column pruning pushes
    the text column only where the hash needs it. The pack gate sees a
    GAPPY doc_id domain here by construction (filter + dedup punch
    holes) — exactly the case the bucket-domain-aware _pack_regime
    handles: the pre-filter table count is still a sound
    upper bound, and the exact subtotal count decides inside the
    ambiguous band. At 100 TB each stage keeps its parent query's scale
    story ({_CTX}-token windows, {_BUCKET}-doc buckets); the chain adds
    one id-keyed semi-join shuffle over what the stages cost alone.
    """,
)
def corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter, exact-dedup, then pack — the E14 chain, declared.

    The dedup stage keeps min(doc_id) per content hash with ONE
    row_number window over the hash (the survivors are exactly the
    rank-1 rows), so the quality-band subtree is instantiated once and
    the text never enters that shuffle: the projection to (doc_id, h,
    n_tok) runs before the window exchange. The (doc_id, n_tok) survivor
    relation is checkpointed so the pack stage's two consumers (bucket
    subtotal aggregate, in-bucket prefix window) read 16 bytes/row
    instead of each replaying the filter+dedup subtree: the plan held 16
    scan nodes / 17 Exchanges, now 2 scans (percentile pass + band pass)
    ahead of the checkpoint and 3 Exchanges after it.
    """
    from .text import _length_band

    d = table(spark, sf_dir, "documents")
    q = _length_band(d).select("doc_id", "text")
    w_h = Window.partitionBy("h").orderBy("doc_id")
    surv = (
        q.select(
            "doc_id",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .withColumn("_rk", F.row_number().over(w_h))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "n_tok")
        .localCheckpoint(eager=True)
    )
    # rows_bound: the PRE-filter table count is a sound upper bound on
    # the survivor bucket domain (filter/dedup only remove rows)
    return _pack_windows(surv, cached_count(d))


_TAKEDOWN_SOURCES = ("src7", "src13")  # ~10% of the corpus
_CHUNK_W = 64  # words per chunk in the derived-chunk artifact


@register(
    "takedown_propagation",
    oracle=f"""
    WITH bad AS (SELECT DISTINCT doc_id FROM documents
                 WHERE source IN ('src7', 'src13')),
    d AS (SELECT doc_id, len(string_split(text, ' ')) AS nw,
                 (doc_id IN (SELECT doc_id FROM bad)) AS is_bad
          FROM documents),
    occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents),
    post AS (SELECT DISTINCT w, doc_id FROM occ WHERE w <> ''),
    p AS (SELECT p.doc_id,
                 (p.doc_id IN (SELECT doc_id FROM bad)) AS is_bad
          FROM post p)
    SELECT 'documents' AS artifact,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE is_bad) AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (WHERE NOT is_bad) AS BIGINT) AS n_kept
    FROM d
    UNION ALL
    SELECT 'chunks',
           CAST(sum((nw + {_CHUNK_W - 1}) // {_CHUNK_W}) AS BIGINT),
           CAST(sum(CASE WHEN is_bad
                    THEN (nw + {_CHUNK_W - 1}) // {_CHUNK_W}
                    ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN NOT is_bad
                    THEN (nw + {_CHUNK_W - 1}) // {_CHUNK_W}
                    ELSE 0 END) AS BIGINT)
    FROM d
    UNION ALL
    SELECT 'postings',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE is_bad) AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT is_bad) AS BIGINT)
    FROM p
    """,
    survey="E15 extension (right-to-be-forgotten propagation: a takedown "
    "list anti-joins the corpus AND every derived artifact — chunks, "
    "postings — with per-artifact removed/kept accounting)",
    scale="""
    Takedown (GDPR erasure, DMCA, contamination recall) must reach every
    DERIVED artifact, not just the source table — chunked training
    shards and inverted-index postings silently resurrect deleted text
    otherwise. The list is a distinct-id relation broadcast to each
    artifact scan (at 100 TB: a few million ids against billions of
    rows — classic broadcast anti/semi-join, zero shuffle of the fact
    side); each artifact then splits its mass into removed/kept with one
    partial-aggregated pass. Chunk counts derive arithmetically from
    word counts (ceil(nw/64)) so the chunk artifact never materializes;
    postings pay their distinct-pair aggregation once. The three-row
    report is the audit record a deletion pipeline emits; the
    n_removed + n_kept = n_total invariant is implicit in the oracle
    equality. Per-artifact accounting stays correct under replicas
    because membership is id-based, not positional.
    """,
)
def takedown_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-artifact removed/kept accounting for a source takedown list."""
    docs = table(spark, sf_dir, "documents")
    bad = (
        docs.filter(F.col("source").isin(*_TAKEDOWN_SOURCES))
        .select("doc_id")
        .distinct()
    )
    flagged = docs.join(
        F.broadcast(bad.withColumn("is_bad", F.lit(True))), "doc_id", "left"
    ).withColumn("is_bad", F.coalesce("is_bad", F.lit(False)))

    d = flagged.select(
        "doc_id", "is_bad", F.size(F.split("text", " ")).alias("nw")
    )
    chunks = (F.col("nw") + (_CHUNK_W - 1)) / _CHUNK_W
    n_chunks = F.floor(chunks).cast("long")

    # ONE corpus pass for both the document and chunk accounting rows
    # (r12): a single aggregation computes all six counters, and the
    # two artifact rows unfold from a 2-struct explode — the r11 plan
    # scanned + broadcast-joined the corpus once per row.
    both = d.agg(
        F.count(F.lit(1)).alias("d_total"),
        F.count_if("is_bad").alias("d_removed"),
        F.count_if(~F.col("is_bad")).alias("d_kept"),
        F.sum(n_chunks).alias("c_total"),
        F.sum(F.when(F.col("is_bad"), n_chunks).otherwise(F.lit(0))).alias(
            "c_removed"
        ),
        F.sum(F.when(~F.col("is_bad"), n_chunks).otherwise(F.lit(0))).alias(
            "c_kept"
        ),
    )
    doc_chunk_rows = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("documents").alias("artifact"),
                    F.col("d_total").alias("n_total"),
                    F.col("d_removed").alias("n_removed"),
                    F.col("d_kept").alias("n_kept"),
                ),
                F.struct(
                    F.lit("chunks").alias("artifact"),
                    F.col("c_total").alias("n_total"),
                    F.col("c_removed").alias("n_removed"),
                    F.col("c_kept").alias("n_kept"),
                ),
            )
        ).alias("r")
    ).select("r.artifact", "r.n_total", "r.n_removed", "r.n_kept")
    post = (
        flagged.select(
            "doc_id", "is_bad", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .select("w", "doc_id", "is_bad")
        .distinct()
    )
    post_row = post.agg(
        F.lit("postings").alias("artifact"),
        F.count(F.lit(1)).alias("n_total"),
        F.count_if("is_bad").alias("n_removed"),
        F.count_if(~F.col("is_bad")).alias("n_kept"),
    )
    return doc_chunk_rows.unionByName(post_row)


_KANON_K = 5  # minimum group size for the k-anonymity audit


@register(
    "scan_kanonymity",
    oracle=f"""
    WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
               FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (WHERE n < {_KANON_K}) AS BIGINT)
               AS n_violating,
           CAST(COALESCE(sum(n) FILTER (WHERE n < {_KANON_K}), 0) AS BIGINT)
               AS n_rows_at_risk,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(sum(n) AS BIGINT) AS n_rows
    FROM g
    """,
    survey="E91/E92 sibling (k-anonymity audit: quasi-identifier group "
    "sizes below k identify re-identifiable rows BEFORE a release — "
    "the check run before agg_dp_release or any per-group publication)",
    scale="""
    The pre-release governance gate: rows whose quasi-identifier
    combination (here nation x market segment) lands in a group smaller
    than k = {k} are re-identifiable in a published per-group table. One
    partial-aggregated groupBy over the quasi-identifiers, then a
    |groups|-row audit aggregate — the shuffle carries group counts,
    never rows, so auditing a 100 TB release candidate costs one
    aggregation at fact-scan speed. The remediation paths this audit
    feeds are all declared siblings: generalize the quasi-identifiers
    (coarser grouping sets, E10), suppress the violating groups
    (anti-join, B6), or release noisy counts instead (agg_dp_release,
    E92 — DP is the rigorous alternative k-anonymity approximates).
    """.replace("{k}", str(_KANON_K)),
)
def scan_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit (nation, segment) quasi-identifier groups against k=5."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    small = F.col("n") < _KANON_K
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count_if(small).alias("n_violating"),
        F.coalesce(F.sum(F.when(small, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("n").alias("min_group_size"),
        F.sum("n").cast("long").alias("n_rows"),
    )


#: md5-nibble thresholds: first hex digit 0-12 -> train (13/16),
#: 13 -> val, 14-15 -> test — deterministic, content-keyed, reproducible
_SPLIT_EXPR_DUCK = """
    CASE WHEN pos <= 12 THEN 'train'
         WHEN pos = 13 THEN 'val'
         ELSE 'test' END
"""


@register(
    "sample_split",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang,
                      strpos('0123456789abcdef',
                             substr(md5('split-1:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                          AS pos
               FROM documents),
    s AS (SELECT doc_id, lang, {_SPLIT_EXPR_DUCK} AS split FROM d)
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_id,
           CAST(max(doc_id) AS BIGINT) AS last_id
    FROM s GROUP BY split, lang
    """,
    survey="D4 extension (deterministic train/val/test split manifest: "
    "keyed-hash thresholds make the split disjoint, exhaustive, "
    "reproducible across engines/runs, and stable under corpus "
    "growth — a doc never migrates between splits when new docs "
    "arrive; the per-(split, lang) manifest is the audit record)",
    scale="""
    The split every training pipeline needs, done the only way that
    survives re-runs and incremental corpus growth: split membership is
    a pure function of a keyed content hash (md5 over release-id +
    doc_id, first nibble thresholded 13:1:2 sixteenths = exactly
    81.25/6.25/12.5%), so adding
    documents NEVER reshuffles existing assignments (the holdout stays
    clean) and both engines derive identical membership. The manifest
    aggregates per (split, lang) — a partial-aggregated groupBy whose
    shuffle carries group counts; the split column itself is a codegen
    projection any downstream query reuses as a partition filter. The
    disjoint-exhaustive witness is implicit: the oracle equality forces
    sum over splits per lang to equal the corpus exactly.
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 81.25/6.25/12.5% train/val/test manifest per
    language (13:1:2 of 16 first-nibble values)."""
    docs = table(spark, sf_dir, "documents")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-1:"), F.col("doc_id").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        )
    ).cast("int")
    split = (
        F.when(pos <= 12, F.lit("train"))
        .when(pos == 13, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
        )
    )


def _raw_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize messy-but-deterministic document URLs (no url column in
    the fixtures; same convention as ``fn_url``). The mess is the point:
    uppercase scheme/host, explicit default port, ``www.`` prefix,
    utm_* tracking params around a real ``id`` param, a fragment, and a
    path id taken mod 40 so distinct docs collide onto one canonical
    URL — the duplicate class host-level dedup exists to find.

    ``text`` rides along so E110's keep-best score needs NO join back
    to documents (review finding: the join was a broadcast only while
    the fixture sat under the 10 MB threshold — at scale it became two
    corpus shuffles); consumers that don't select it get it pruned out
    of the scan by Catalyst (plan-pinned in test_scale_plans)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        "text",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper("source"),
            F.lit(".Example.COM:443/docs/"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("/?utm_source=feed&id="),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("&utm_campaign=c"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("#sec-"),
            F.col("lang"),
        ).alias("url_raw"),
    )


#: the oracle twin of ``_raw_urls`` + the canonicalization chain, shared
#: by both URL queries below (DuckDB regexp_replace needs the explicit
#: 'g' flag where Spark's replaces all matches by default)
_URL_ORACLE_CTE = """
    raw AS (
      SELECT doc_id, lang,
             'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/'
             || (doc_id % 40) || '/?utm_source=feed&id=' || (doc_id % 40)
             || '&utm_campaign=c' || (doc_id % 3) || '#sec-' || lang
                 AS url_raw
      FROM documents),
    step AS (
      SELECT doc_id, lang, url_raw,
             lower(regexp_extract(regexp_replace(url_raw, '#.*$', ''),
                                  '^[^/]+//[^/]+', 0)) AS prefix,
             regexp_replace(
               substr(regexp_replace(url_raw, '#.*$', ''),
                      length(regexp_extract(regexp_replace(url_raw,
                             '#.*$', ''), '^[^/]+//[^/]+', 0)) + 1),
               'utm_[a-z]+=[^&#]*&?', '', 'g') AS rest0
      FROM raw),
    canon AS (
      SELECT doc_id, lang, url_raw,
             regexp_replace(regexp_replace(prefix, ':443$', ''),
                            '^https://www\\.', 'https://')
             || regexp_replace(regexp_replace(rest0, '[?&]+$', ''),
                               '/\\?', '?') AS url
      FROM step),
    urls AS (
      SELECT doc_id, lang, url_raw, url,
             regexp_extract(url, '^https://([^/]+)', 1) AS host,
             regexp_extract(regexp_extract(url, '^https://([^/]+)', 1),
                            '([^.]+\\.[^.]+)$', 1) AS domain
      FROM canon)
"""


def _canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize ``url_raw`` with pure codegen string/regex ops.

    Steps (each a projection, no UDF, no shuffle): strip fragment;
    lowercase the scheme://host:port prefix only (paths and query values
    are case-significant); drop the https default port; drop the
    ``www.`` alias; drop utm_* tracking params; trim dangling ``?``/
    ``&``; collapse the ``/?`` seam. Host and registered domain (last
    two labels — a real pass swaps in a public-suffix table as a
    broadcast join) come off the canonical form.
    """
    no_frag = F.regexp_replace("url_raw", F.lit("#.*$"), F.lit(""))
    prefix = F.lower(
        F.regexp_extract(no_frag, "^[^/]+//[^/]+", 0)
    )
    rest0 = F.regexp_replace(
        F.expr(
            "substring(regexp_replace(url_raw, '#.*$', ''),"
            " length(regexp_extract(regexp_replace(url_raw, '#.*$', ''),"
            " '^[^/]+//[^/]+', 0)) + 1)"
        ),
        F.lit("utm_[a-z]+=[^&#]*&?"),
        F.lit(""),
    )
    canon = F.concat(
        F.regexp_replace(
            F.regexp_replace(prefix, F.lit(":443$"), F.lit("")),
            F.lit("^https://www\\."),
            F.lit("https://"),
        ),
        F.regexp_replace(
            F.regexp_replace(rest0, F.lit("[?&]+$"), F.lit("")),
            F.lit("/\\?"),
            F.lit("?"),
        ),
    )
    urls = _raw_urls(spark, sf_dir).withColumn("url", canon)
    host = F.regexp_extract("url", "^https://([^/]+)", 1)
    return urls.withColumn("host", host).withColumn(
        "domain", F.regexp_extract("host", "([^.]+\\.[^.]+)$", 1)
    )


@register(
    "url_canonicalize",
    oracle=f"""
    WITH {_URL_ORACLE_CTE}
    SELECT doc_id, url_raw, url, host, domain FROM urls
    """,
    survey="E107 (URL canonicalization — the CommonCrawl-style pass "
    "upstream of document dedup)",
    scale="""
    Pure per-row regexp/string projection — whole-stage codegen, zero
    exchanges, scan-bound at 100 TB (the same class as text_redact).
    The canonical URL becomes the dedup key for the downstream
    url_host_stats rollup and any exact-dedup pass; canonicalizing
    BEFORE dedup is what makes http://WWW.X.com:443/a?utm_y=1 and
    https://x.com/a the same document instead of two.
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document canonical URL + host + registered domain."""
    return _canonical_urls(spark, sf_dir).select(
        "doc_id", "url_raw", "url", "host", "domain"
    )


@register(
    "url_host_stats",
    oracle=f"""
    WITH {_URL_ORACLE_CTE}
    SELECT host, domain,
           count(*) AS n_docs,
           count(DISTINCT url) AS n_urls,
           count(*) - count(DISTINCT url) AS n_dup_docs,
           round((count(*) - count(DISTINCT url)) * 1.0 / count(*), 4)
               + 0.0 AS dup_rate,
           count(DISTINCT lang) AS n_langs
    FROM urls
    GROUP BY host, domain
    """,
    survey="E107 (host-level dedup statistics over canonical URLs)",
    scale="""
    One hash aggregation keyed on host after the codegen canonicalize
    projection; count(DISTINCT url) expands to the standard two-level
    partial-distinct plan, so the token stream never converges on one
    task. Hosts are the canonical skew key at crawl scale (a head host
    can be 1000x the median) — AQE skew-join handling plus the
    partial-distinct first level keep the head host's work spread
    across its input partitions; only (host, url)-distinct rows reach
    the second exchange. Output is |hosts|-sized.
    """,
)
def url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs / distinct canonical URLs / duplicate rate per host."""
    u = _canonical_urls(spark, sf_dir)
    return u.groupBy("host", "domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("url").alias("n_urls"),
        (F.count(F.lit(1)) - F.countDistinct("url")).alias("n_dup_docs"),
        pround0(
            (F.count(F.lit(1)) - F.countDistinct("url"))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("dup_rate"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "corpus_dedup_url_keepbest",
    oracle=f"""
    WITH {_URL_ORACLE_CTE},
    scored AS (
      SELECT c.url, d.doc_id,
             CAST(COALESCE(list_aggregate(list_transform(
                  list_concat(string_split(d.text, ' '),
                    list_transform(string_split(d.text, ' ')[2:],
                      (x, i) -> string_split(d.text, ' ')[i] || ' ' || x)),
                  f -> ((1103515245 *
                         ((('0x' || substr(md5(f),1,15))::BIGINT
                           % 2147483647) % 4096) + 12345) % 65536) - 32768),
                  'sum'), 0) AS BIGINT) AS sum_w
      FROM urls c JOIN documents d USING (doc_id)),
    ranked AS (
      SELECT url, doc_id, sum_w,
             row_number() OVER (PARTITION BY url
                                ORDER BY sum_w DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY url) AS n_dups
      FROM scored)
    SELECT url, doc_id AS kept_doc_id, CAST(n_dups AS BIGINT) AS n_dups,
           sum_w AS kept_sum_w
    FROM ranked WHERE rk = 1
    """,
    survey="E110 (URL-level keep-best dedup — E107's canonical key x "
    "E106's quality score, composed)",
    scale="""
    The registry's curation ops COMPOSE: canonical URL (E107, codegen
    projection) becomes the dedup key, the hashed-ngram classifier
    score (E106, codegen projection) becomes the survivorship rule,
    and the keep-best reduction is max_by(struct) — ONE hash
    aggregation with map-side partials, the dedup_keep_best monoid.
    No window, no sort, no pair stage; at 100 TB this is a single
    exchange on the canonical-url key (uniform unless one URL truly
    dominates — and a URL-keyed head is exactly what the E107 host
    stats surface first). Ties break on doc_id for determinism.
    """,
)
def corpus_dedup_url_keepbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One survivor per canonical URL: highest classifier score wins.

    The score expression is :func:`..llm.text.qc_sum_w` — the SAME
    definition ``text_quality_classifier`` reports, so survivorship
    can't desynchronize from the reported quality score. URL and score
    are both per-row projections of one documents row (``_raw_urls``
    carries ``text``), so there is NO join: scan → project → one
    max_by aggregation. (Review finding: the first version joined
    ``_canonical_urls`` back to documents on doc_id — a broadcast only
    while the fixture sat under the 10 MB threshold, two corpus-sized
    shuffles beyond it.)
    """
    from .text import qc_sum_w

    scored = (
        _canonical_urls(spark, sf_dir)
        .select("url", "doc_id", F.split("text", " ").alias("toks"))
        .select("url", "doc_id", qc_sum_w().alias("sum_w"))
    )
    # keep-best monoid: max_by on (score, -doc_id) — deterministic ties
    best = scored.groupBy("url").agg(
        F.expr(
            "max_by(struct(doc_id, sum_w),"
            " struct(sum_w, -doc_id)).doc_id"
        ).alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
        F.expr(
            "max_by(struct(doc_id, sum_w),"
            " struct(sum_w, -doc_id)).sum_w"
        ).alias("kept_sum_w"),
    )
    return best.select("url", "kept_doc_id", "n_dups", "kept_sum_w")


#: a line is boilerplate when it appears in at least this many distinct
#: documents (the CCNet/RefinedWeb absolute document-frequency knob; a
#: production run sets it relative to corpus size)
_BOILER_DF = 10

#: the injected boilerplate line texts (the fixture's documents are
#: single-line, so the line structure is spliced deterministically —
#: the dedup_canonical witness construction)
_HDR = "subscribe to our newsletter today"
_FTR = "all rights reserved copyright notice"


@register(
    "corpus_boilerplate_strip",
    oracle=f"""
    WITH lines AS (
        SELECT doc_id, 0 AS line_no, '{_HDR}' AS line
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 1, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id, 2, '{_FTR}'
        FROM documents WHERE doc_id % 4 = 0),
    boiler AS (SELECT md5(line) AS h
               FROM lines GROUP BY md5(line)
               HAVING count(DISTINCT doc_id) >= {_BOILER_DF}),
    kept AS (SELECT l.doc_id, l.line_no, l.line
             FROM lines l LEFT JOIN boiler b ON md5(l.line) = b.h
             WHERE b.h IS NULL),
    nl AS (SELECT doc_id, count(*) AS n FROM lines GROUP BY doc_id),
    ka AS (SELECT doc_id, count(*) AS n,
                  array_to_string(list(line ORDER BY line_no), chr(10))
                      AS txt
           FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(nl.n, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(ka.n, 0) AS BIGINT) AS n_kept,
           coalesce(ka.txt, '') AS kept_text
    FROM documents d
    LEFT JOIN nl ON d.doc_id = nl.doc_id
    LEFT JOIN ka ON d.doc_id = ka.doc_id
    """,
    survey="D1/D4 extension (line-level boilerplate removal: the "
    "CCNet/RefinedWeb curation step — strip lines whose document "
    "frequency exceeds a threshold, keep the document)",
    scale="""
    The line-dedup step web-corpus pipelines run BEFORE document dedup:
    navigation chrome, cookie banners, and copyright footers repeat
    across millions of pages, so document-level hashes never match but
    per-line document frequency exposes them instantly. The plan is the
    100 TB shape by construction: per-line DF is one partial-aggregated
    groupBy on a constant-width md5 key; the boilerplate set (df >=
    threshold) is TINY by definition — a line in >= k distinct docs
    appears at most |corpus-lines|/k times, so the filter output is
    bounded and broadcast — making the strip a map-side broadcast
    anti-join with zero corpus-line shuffle; reassembly groups by
    doc_id with per-group size bounded by the document's own line
    count. NULL-text docs contribute no body line on either engine
    (WHERE text IS NOT NULL = isNotNull); docs stripped to nothing
    surface as kept_text = '' via the coalesced left joins, never
    dropped. The fixture's single-line documents get their line
    structure spliced deterministically (header on doc_id%3, footer on
    doc_id%4, the dedup_canonical witness idiom), so the witness is
    provably non-vacuous: header/footer DF is ~n/3 and ~n/4 >> the
    threshold while every organic line stays under it.
    """,
)
def corpus_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip high-document-frequency lines; return the rewritten docs."""
    docs = table(spark, sf_dir, "documents")
    # ONE documents scan builds all three line kinds (r12): each row
    # explodes a 3-struct array with a per-kind keep flag — the r11
    # union-of-filters scanned the parquet once per branch. Row set is
    # identical; downstream is aggregation/join, so order is free.
    entry = F.explode(
        F.array(
            F.struct(
                F.lit(0).alias("line_no"),
                F.lit(_HDR).alias("line"),
                (F.col("doc_id") % 3 == 0).alias("keep"),
            ),
            F.struct(
                F.lit(1).alias("line_no"),
                F.col("text").alias("line"),
                F.col("text").isNotNull().alias("keep"),
            ),
            F.struct(
                F.lit(2).alias("line_no"),
                F.lit(_FTR).alias("line"),
                (F.col("doc_id") % 4 == 0).alias("keep"),
            ),
        )
    )
    # consumed by three subtrees (DF, strip, per-doc totals): checkpoint
    # once so the documents scan doesn't replay per consumer
    lines = (
        docs.select("doc_id", entry.alias("e"))
        .filter(F.col("e.keep"))
        .select(
            "doc_id",
            F.col("e.line_no").alias("line_no"),
            F.col("e.line").alias("line"),
        )
        .withColumn("h", F.md5("line"))
        .localCheckpoint(eager=True)
    )
    boiler = (
        lines.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("h")
    )
    kept = lines.join(F.broadcast(boiler), "h", "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    nl = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    return (
        docs.select("doc_id")
        .join(nl, "doc_id", "left")
        .join(ka, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )

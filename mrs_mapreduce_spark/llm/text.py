"""Text analysis for corpus curation (SURVEY.md §2.D D4).

Tokenization, tf-idf, language ID, quality scoring, token counting and
document fingerprinting — all as pure DataFrame plans (no Python UDFs in
any hot path), each with an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import cached_count, fan_out, table
from ..exprs import pround, pround0
from ..registry import register


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, word) pairs — whitespace tokenization of ``text``.

    NO fan_out here: splitting is too cheap to amortize a re-spread
    shuffle of the text (measured 0.83s vs 0.95s on tfidf at sf0.1) —
    the single-task scan pipelines straight into the partial aggregate.
    fan_out pays off only when per-row compute dominates (see shingles).
    """
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           count(DISTINCT source) AS n_sources,
           round(avg(len(string_split(text, ' '))), 2) AS avg_words
    FROM documents GROUP BY lang
    """,
    survey="D4",
    scale="Single partial-aggregated groupBy on a low-cardinality key.",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pround(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
        pround(F.avg(F.size(F.split("text", " "))), 2).alias("avg_words"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (SELECT tf.doc_id, tf.w,
                      round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
               FROM tf JOIN df USING (w) CROSS JOIN n
               WHERE tf.doc_id < 50)
    SELECT doc_id, w AS word, tfidf, rk
    FROM (SELECT doc_id, w, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, w) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    survey="D4 (tf-idf)",
    scale="""
    tf and df are two partial-aggregated groupBys over the token stream;
    df (|vocab| rows) is broadcast back onto tf — no shuffle of the big
    side for the idf join. Top-3-per-doc uses rank-limit pushdown
    (WindowGroupLimit). At 100 TB the token explode never materializes:
    it is pipelined between the scan and the partial aggregates.
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (smoothed idf), deterministic ties."""
    docs = table(spark, sf_dir, "documents")
    n_docs = cached_count(docs)  # memoized per (sf_dir, mtime), not per build
    tok = tokens(docs)
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df falls out of tf (one tf row per (doc, word) => rows-per-word =
    # docs-per-word): one pass over the token stream instead of two, and
    # the expensive countDistinct becomes a plain count over the small
    # aggregate
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        # no hard hint: df is vocab-sized (unbounded on a web corpus); the
        # 50-doc probe side is the bounded one, and AQE broadcasts
        # whichever is measured smaller
        tf.filter(F.col("doc_id") < 50)
        .join(df, "word")
        .select(
            "doc_id",
            "word",
            pround(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tfidf", "rk")
    )


@register(
    "text_langid",
    oracle="""
    WITH tok AS (SELECT d.doc_id, d.lang, unnest(string_split(d.text, ' ')) AS w
                 FROM documents d),
    lw AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
    markers AS (SELECT lang AS marker_lang, w
                FROM (SELECT lang, w,
                             row_number() OVER (PARTITION BY lang
                                                ORDER BY c DESC, w) AS rk
                      FROM lw)
                WHERE rk <= 3),
    hits AS (SELECT t.doc_id, m.marker_lang, count(*) AS n_hits
             FROM tok t JOIN markers m ON t.w = m.w
             WHERE t.doc_id < 200
             GROUP BY t.doc_id, m.marker_lang)
    SELECT doc_id, marker_lang AS pred_lang, n_hits
    FROM (SELECT doc_id, marker_lang, n_hits,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY n_hits DESC, marker_lang) AS rk
          FROM hits)
    WHERE rk = 1
    """,
    survey="D4 (language identification, n-gram-frequency heuristic)",
    scale="""
    Self-calibrating lang-ID: marker extraction is a groupBy + windowed
    top-k (tiny output: |langs|*3 rows) broadcast onto the token stream —
    the scoring join is map-side, zero shuffle of tokens. Real-world
    variant swaps markers for a static char-n-gram profile table;
    identical plan shape.
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict language from corpus-derived marker words (argmax hits)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    lw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    w_top = Window.partitionBy("lang").orderBy(F.desc("c"), "w")
    markers = (
        lw.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= 3)
        .select(F.col("lang").alias("marker_lang"), "w")
    )
    hits = (
        tok.filter(F.col("doc_id") < 200)
        .join(F.broadcast(markers), "w")
        .groupBy("doc_id", "marker_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), "marker_lang"
    )
    return (
        hits.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("marker_lang").alias("pred_lang"), "n_hits")
    )


@register(
    "text_quality",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    stop AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY w
                            ORDER BY c DESC, w LIMIT 20)),
    per_doc AS (
      SELECT t.doc_id,
             count(*) AS n_words,
             count(DISTINCT t.w) AS n_uniq,
             sum(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END) AS n_stop,
             sum(length(t.w)) AS sum_len
      FROM tok t LEFT JOIN stop s ON t.w = s.w
      GROUP BY t.doc_id)
    SELECT doc_id, n_words,
           round(n_uniq * 1.0 / n_words, 4) AS uniq_ratio,
           round(n_stop * 1.0 / n_words, 4) AS stop_ratio,
           round(sum_len * 1.0 / n_words, 4) AS avg_word_len,
           round(0.4 * (n_uniq * 1.0 / n_words)
                 + 0.4 * (1 - n_stop * 1.0 / n_words)
                 + 0.2 * least(sum_len * 1.0 / n_words / 10, 1.0), 4)
               AS quality
    FROM per_doc
    """,
    survey="D4 (quality scoring: length/stopword/uniqueness heuristics)",
    scale="""
    Stopword list = windowed top-20 (broadcast); the per-doc pass is one
    partial-aggregated groupBy over the token stream. Heuristic weights
    are illustrative; the plan shape (tiny broadcast + single agg) is the
    scalable part.
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score from corpus-relative heuristics."""
    docs = table(spark, sf_dir, "documents")
    tok = tokens(docs)
    stop = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(20)
        .select(F.col("word").alias("stop_w"))
    )
    joined = tok.join(
        F.broadcast(stop), tok.word == F.col("stop_w"), "left"
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("n_uniq"),
        F.sum(
            F.when(F.col("stop_w").isNotNull(), 1).otherwise(0)
        ).alias("n_stop"),
        F.sum(F.length("word")).alias("sum_len"),
    )
    uniq_ratio = F.col("n_uniq") * 1.0 / F.col("n_words")
    stop_ratio = F.col("n_stop") * 1.0 / F.col("n_words")
    avg_len = F.col("sum_len") * 1.0 / F.col("n_words")
    return per_doc.select(
        "doc_id",
        "n_words",
        pround(uniq_ratio, 4).alias("uniq_ratio"),
        pround(stop_ratio, 4).alias("stop_ratio"),
        pround(avg_len, 4).alias("avg_word_len"),
        pround(
            0.4 * uniq_ratio
            + 0.4 * (1 - stop_ratio)
            + 0.2 * F.least(avg_len / 10, F.lit(1.0)),
            4,
        ).alias("quality"),
    )


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws,
           len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), 'sum')
                AS BIGINT) AS n_subwords
    FROM documents
    """,
    survey="D4 (token counting: whitespace + regex + BPE-ish estimate)",
    scale="""
    Token counting without exploding: size() over split arrays and a
    higher-order sum — pure projection, zero shuffle. The ceil(len/4)
    subword estimate is the standard chars/4 BPE proxy.
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace, regex and BPE-ish subword token counts per document."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias(
            "n_alpha"
        ),
        F.expr(
            "aggregate(transform(split(text, ' '),"
            " w -> cast(ceil(length(w) / 4.0) as bigint)),"
            " cast(0 as bigint), (a, x) -> a + x)"
        ).alias("n_subwords"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')), 1, 16) AS fp,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
    FROM documents
    """,
    survey="D4 (document fingerprinting)",
    scale="""
    Content-defined fingerprint: hash of the sorted distinct token set —
    invariant to word order, so it catches shuffled near-copies that exact
    dedup misses. Pure projection; the fingerprint column then feeds the
    exact-dedup groupBy.
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant content fingerprint per document."""
    d = table(spark, sf_dir, "documents")
    uniq = F.array_sort(F.array_distinct(F.split("text", " ")))
    return d.select(
        "doc_id",
        F.substring(F.md5(F.array_join(uniq, " ")), 1, 16).alias("fp"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq"),
    )


@register(
    "text_winnow",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    shl AS (SELECT doc_id,
                   list_transform(range(1, len(ws) - 1),
                       i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                       AS hs
            FROM words WHERE len(ws) >= 3),
    sh AS (SELECT doc_id, generate_subscripts(hs, 1) AS pos,
                  unnest(hs) AS h
           FROM shl),
    wins AS (SELECT doc_id, pos,
                    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW
                                          AND 3 FOLLOWING) AS wmin,
                    count(*) OVER (PARTITION BY doc_id) AS n_sh
             FROM sh),
    fp AS (SELECT DISTINCT doc_id, wmin
           FROM wins WHERE pos + 3 <= n_sh)
    SELECT doc_id, count(*) AS n_fp, min(wmin) AS fp_min
    FROM fp GROUP BY doc_id
    """,
    survey="D4 (winnowing document fingerprints, MOSS-style)",
    scale="""
    Winnowing guarantees any shared run of >= w+k-1 words yields a shared
    fingerprint — the principled near-dup sketch. One window pass over
    positioned shingle hashes, then distinct per doc: fingerprint count
    is ~2/(w+1) of shingles regardless of document size. The fingerprint
    set joins exactly like MinHash bands downstream.
    """,
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint summary per doc (window w=4 over 3-shingles)."""
    docs = table(spark, sf_dir, "documents")
    pre = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 3
    )
    sh_expr = F.expr(
        "transform(sequence(1, size(ws) - 2),"
        " i -> md5(concat_ws(' ', element_at(ws, i), element_at(ws, i+1),"
        " element_at(ws, i+2))))"
    )
    positioned = pre.select(
        "doc_id", F.posexplode(sh_expr).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    w_cnt = Window.partitionBy("doc_id")
    wins = positioned.select(
        "doc_id",
        "pos",
        F.min("h").over(w_win).alias("wmin"),
        F.count(F.lit(1)).over(w_cnt).alias("n_sh"),
    )
    fp = (
        wins.filter(F.col("pos") + 3 <= F.col("n_sh"))
        .select("doc_id", "wmin")
        .distinct()
    )
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"), F.min("wmin").alias("fp_min")
    )


@register(
    "text_bigrams",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(ws)),
                  i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM words WHERE len(ws) >= 2)
    SELECT bigram, count(*) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
    survey="D4 (n-gram statistics)",
    scale="""
    Bigram counts = shingle explode + partial-aggregated groupBy; the
    top-20 is TakeOrdered over the aggregated (small) relation. Vocabulary
    grows sublinearly with corpus size, so the shuffle stays bounded.
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams."""
    from .dedup import shingles

    docs = table(spark, sf_dir, "documents")
    bg = shingles(docs, k=2).withColumnRenamed("sh", "bigram")
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(20)
    )


@register(
    "sample_hash",
    oracle="""
    SELECT lang,
           count(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_id
    FROM documents
    WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 4
    GROUP BY lang
    """,
    survey="D4 (deterministic stratified sampling for training splits)",
    scale="""
    Hash-mod sampling: reproducible across runs/engines/retries (unlike
    rand()-based sampleBy), stable under repartitioning, and composable —
    the same hash with disjoint ranges yields disjoint train/val/test
    splits. The predicate is a pure projection: no shuffle, prunes at
    scan time. 4/16 hash buckets ~ 25% sample per stratum.
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% deterministic sample per language via md5 bucket of the key."""
    d = table(spark, sf_dir, "documents")
    bucket = F.expr(
        "instr('0123456789abcdef',"
        " substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    return (
        d.filter(bucket < 4)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").cast("long").alias("first_id"),
        )
    )


@register(
    "text_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS no_nums,
           length(regexp_replace(text, '[^a-z ]', '', 'g')) AS n_alpha_chars,
           trim(regexp_replace(' ' || text || '  ', ' +', ' ', 'g'))
               AS normalized
    FROM documents WHERE doc_id < 100
    """,
    survey="D4 (scrubbing/normalization: regexp_replace pipelines)",
    scale="""
    PII/noise scrubbing is regexp_replace chains — codegen'd projection,
    zero shuffle, safe to fuse with the scan. At 100 TB scrub ONCE at
    ingest and persist; re-scrubbing per query re-pays the regex cost on
    every pass.
    """,
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing pipeline: digit masking, charset filtering, ws collapse."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.regexp_replace("text", "[0-9]+", "<NUM>").alias("no_nums"),
        F.length(F.regexp_replace("text", "[^a-z ]", "")).alias(
            "n_alpha_chars"
        ),
        # NULL text -> NULL normalized in BOTH engines: the oracle uses
        # '||' (NULL-propagating like F.concat); DuckDB's concat() would
        # instead SKIP NULL args and yield '' (r11 text review finding
        # #1 — the one site that paired Spark concat with DuckDB concat)
        F.trim(
            F.regexp_replace(
                F.concat(F.lit(" "), "text", F.lit("  ")), " +", " "
            )
        ).alias("normalized"),
    )


def _length_band(docs: DataFrame) -> DataFrame:
    """The rows of ``docs`` inside their language's p10..p90 ``n_chars``
    band: a per-lang percentile aggregate broadcast back onto the docs."""
    bounds = docs.groupBy(F.col("lang").alias("b_lang")).agg(
        F.expr("percentile(n_chars, 0.10)").alias("lo"),
        F.expr("percentile(n_chars, 0.90)").alias("hi"),
    )
    return docs.join(F.broadcast(bounds), docs.lang == bounds.b_lang).filter(
        (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """The rows of ``docs`` with at least 20 words of which at least 30%
    are distinct: drops very short docs and low-vocabulary spam."""
    words = F.split("text", " ")
    n_words = F.size(words)
    return docs.filter(
        (n_words >= 20) & (F.size(F.array_distinct(words)) / n_words >= 0.3)
    )


@register(
    "corpus_length_filter",
    oracle="""
    WITH bounds AS (
      SELECT lang,
             quantile_cont(n_chars, 0.10) AS lo,
             quantile_cont(n_chars, 0.90) AS hi
      FROM documents GROUP BY lang)
    SELECT d.lang,
           count(*) AS n_kept,
           round(avg(d.n_chars), 2) AS avg_kept_chars
    FROM documents d JOIN bounds b ON d.lang = b.lang
    WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    GROUP BY d.lang
    """,
    survey="D4 (corpus curation: per-stratum percentile length filter)",
    scale="""
    The standard length-outlier cut: per-language percentile bounds are a
    tiny aggregate broadcast back onto the corpus — one pass, one
    broadcast. At 100 TB switch percentile() to approx_percentile
    (t-digest) and the plan is otherwise unchanged; the filter predicate
    itself stays scan-fusable.
    """,
)
def corpus_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep per-language p10..p90 length band; report survivors."""
    return (
        _length_band(table(spark, sf_dir, "documents"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            pround(F.avg("n_chars"), 2).alias("avg_kept_chars"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM documents
    WHERE (strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
          < (CASE WHEN lang = 'es' THEN 2
                  WHEN lang = 'de' THEN 12
                  ELSE 6 END)
    GROUP BY lang
    """,
    survey="D4 (per-stratum-rate deterministic sampling: corpus rebalancing)",
    scale="""
    The corpus-rebalancing primitive: each stratum gets its OWN hash
    threshold (downsample the dominant language, upsample the rare one)
    in a single scan-time predicate — no per-stratum passes, no rand()
    nondeterminism, stable under retries and engine changes. Swap the
    CASE for a broadcast-joined rate table when strata are data-driven
    (e.g. inverse-frequency targets computed in a first pass).
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates via md5 bucket (es 2/16, de 12/16, else 6/16)."""
    d = table(spark, sf_dir, "documents")
    bucket = F.expr(
        "instr('0123456789abcdef',"
        " substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    rate = (
        F.when(F.col("lang") == "es", 2)
        .when(F.col("lang") == "de", 12)
        .otherwise(6)
    )
    return (
        d.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
    )


@register(
    "text_bigram_lm",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(ws)),
                  i -> [ws[i], ws[i+1]])) AS pair
           FROM words WHERE len(ws) >= 2),
    pairs AS (SELECT pair[1] AS w1, pair[2] AS w2, count(*) AS c12
              FROM bg GROUP BY 1, 2),
    uni AS (SELECT w1, sum(c12) AS c1 FROM pairs GROUP BY w1)
    SELECT p.w1, p.w2, p.c12,
           round(p.c12 * 1.0 / u.c1, 6) AS cond_p
    FROM pairs p JOIN uni u USING (w1)
    WHERE p.c12 >= 40
    """,
    survey="D4 (bigram conditional probabilities — n-gram LM counts)",
    scale="""
    The n-gram language-model table every filtering heuristic sits on:
    bigram counts are one partial-aggregated groupBy; the unigram
    normalizer is derived FROM the bigram aggregate (sum per w1 — no
    second pass over the corpus, the tfidf df trick) and joins back
    small-side broadcast. At 100 TB prune the tail (c12 >= k) BEFORE the
    normalizer join so the broadcast stays vocabulary-sized, and shard
    the model table by w1 prefix when even the vocabulary outgrows one
    broadcast.
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(w2 | w1) for frequent bigrams (count-based LM)."""
    from .dedup import shingles

    docs = table(spark, sf_dir, "documents")
    bg = shingles(docs, k=2).select(
        F.split("sh", " ").getItem(0).alias("w1"),
        F.split("sh", " ").getItem(1).alias("w2"),
    )
    # vocab-bounded, consumed twice (uni normalizer + filtered probe):
    # without the checkpoint Spark re-runs the corpus-sized bigram
    # aggregation per consumer — 2 FileScans, 0 ReusedExchange (r11 text
    # review finding #3; text_pmi's identical relation already did this)
    pairs = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    uni = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        # no hard hint: the w1 marginals are vocab-sized — AQE broadcasts
        # them while they fit and flips to a shuffle join beyond
        pairs.filter(F.col("c12") >= 40)
        .join(uni, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            pround(F.col("c12") / F.col("c1"), 6).alias("cond_p"),
        )
    )


@register(
    "text_postings",
    oracle="""
    WITH occ AS (SELECT DISTINCT doc_id,
                        unnest(string_split(text, ' ')) AS w
                 FROM documents),
    posting AS (SELECT w, doc_id FROM occ WHERE w <> '')
    SELECT w,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
    FROM posting
    GROUP BY w
    HAVING count(*) >= 100
    """,
    survey="D4 extension (inverted index / posting lists)",
    scale="""
    The retrieval structure behind every corpus search: one
    explode-distinct pass builds (term, doc) postings, one groupBy
    materializes per-term sorted doc lists. Both shuffles key on the
    term, so skew follows Zipf — at 100 TB cap posting-list length for
    stop-word-degree terms (they carry no retrieval signal and one
    term's list must fit an executor; the df >= 100 gate here is the
    inverse: keeping only frequent terms bounds the OUTPUT relation for
    the oracle). Downstream intersection of sorted lists is a merge —
    the classic AND-query plan.
    """,
)
def text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over documents: term -> (df, sorted doc list)."""
    docs = table(spark, sf_dir, "documents")
    posting = (
        fan_out(docs)
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .dropDuplicates(["w", "doc_id"])
    )
    return (
        posting.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            # flattened posting list: numeric sort, then ","-join — the
            # driver's pandas canonicalizer cannot hash array cells
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda c: c.cast("string"),
                ),
                ",",
            ).alias("docs"),
        )
        .filter(F.col("df") >= 100)
    )


@register(
    "text_chunks",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
    grid AS (SELECT doc_id, ws,
                    unnest(generate_series(
                        1, greatest(1, len(ws) - 32), 32)) AS start
             FROM toks)
    SELECT doc_id,
           CAST((start - 1) / 32 AS BIGINT) AS chunk_no,
           array_to_string(ws[start : start + 63], ' ') AS chunk,
           CAST(least(64, len(ws) - start + 1) AS BIGINT) AS n_tokens
    FROM grid
    """,
    survey="D4 extension (sliding-window chunking: size 64, stride 32)",
    scale="""
    The RAG/pretraining chunker: window size 64 tokens, stride 32 (50%
    overlap), computed entirely in codegen — split once, generate the
    stride grid with sequence(), slice each window with the array
    slicing built-in; no UDF touches the text. Row growth is
    len/stride chunks per doc (2x corpus here) and the op is NARROW:
    chunks inherit the scan's partitioning, nothing shuffles until a
    downstream groupBy. At 100 TB: chunk AFTER dedup/quality gates
    (don't pay 2x on discarded docs) and write chunks partitioned by
    the downstream consumer's key (training shard, embedding batch).
    """,
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks (stride 32) of every document."""
    docs = table(spark, sf_dir, "documents")
    size, stride = 64, 32
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    grid = toks.select(
        "doc_id",
        "ws",
        "n",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.col("n") - size + stride),
                F.lit(stride),
            )
        ).alias("start"),
    )
    return grid.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_no"),
        F.array_join(F.slice("ws", F.col("start"), size), " ").alias(
            "chunk"
        ),
        F.least(F.lit(size), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
    )


@register(
    "text_mask_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
    masked AS (SELECT doc_id,
                      array_to_string(
                          list_transform(
                              list_zip(ws, range(1, len(ws) + 1)),
                              p -> CASE WHEN (p[2] - 1) % 7 = 3
                                        THEN '<extra_id>' ELSE p[1] END),
                          ' ') AS masked_text,
                      CAST(len(list_filter(range(1, len(ws) + 1),
                                           i -> (i - 1) % 7 = 3))
                           AS BIGINT) AS n_masked,
                      CAST(len(ws) AS BIGINT) AS n_tokens
               FROM toks)
    SELECT doc_id, masked_text, n_masked, n_tokens
    FROM masked WHERE doc_id % 50 = 0
    """,
    survey="D4 extension (deterministic span corruption / masking)",
    scale="""
    Denoising-objective data prep (T5-style span corruption) as a pure
    codegen transform: position-keyed masking (every 7th token, offset
    3) replaces spans with a sentinel — deterministic, so augmented
    corpora are reproducible and the oracle is exact. The op is NARROW
    (transform over the token array, no shuffle) and composes with
    text_chunks upstream. A randomized variant swaps the position rule
    for hash(doc_id, position) % k — still deterministic per corpus,
    still zero-shuffle. The doc_id % 50 gate only bounds the declared
    result; the transform itself streams the full corpus.
    """,
)
def text_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-7th-token sentinel masking over documents (sampled output)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    masked = toks.select(
        "doc_id",
        F.array_join(
            F.expr(
                "transform(ws, (w, i) -> "
                "CASE WHEN i % 7 = 3 THEN '<extra_id>' ELSE w END)"
            ),
            " ",
        ).alias("masked_text"),
        F.expr(
            "cast(size(filter(sequence(0, size(ws) - 1), "
            "i -> i % 7 = 3)) as bigint)"
        ).alias("n_masked"),
        F.size("ws").cast("long").alias("n_tokens"),
    )
    return masked.filter(F.col("doc_id") % 50 == 0)


@register(
    "text_bpe_pairs",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w
           WHERE w <> '' GROUP BY w),
    pairs AS (SELECT substr(w, g.i, 2) AS pair, cnt
              FROM wc CROSS JOIN generate_series(1, 40) AS g(i)
              WHERE g.i < length(w)),
    agg AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
            FROM pairs GROUP BY pair)
    SELECT pair, freq FROM agg
    ORDER BY freq DESC, pair
    LIMIT 20
    """,
    survey="D4 extension (BPE training: the merge-pair statistics step)",
    scale="""
    One iteration of byte-pair-encoding training, distributed: collapse
    the corpus to (word, count) FIRST — the classic BPE trick, since
    pair counts decompose over word counts — then fan each distinct
    word into its adjacent symbol pairs weighted by the word count, and
    partial-aggregate. The corpus-sized stage is the word count (one
    shuffle); the pair stage is |vocab| x word-length, independent of
    corpus size. Full BPE training iterates: pick argmax pair, merge in
    the vocab relation (a string replace over |vocab| rows — driver- or
    map-side), recount pairs; every round touches vocab only, never the
    corpus again. The cap at position 40 bounds the fanout against
    pathological tokens and matches the oracle exactly.
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs, weighted by word frequency."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wc.filter(F.length("w") >= 2).select(
        # the length guard matters: Spark's sequence(1, 0) is the
        # DESCENDING [1, 0], not empty, so 1-char words would fan out
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, least(length(w) - 1, 40)), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(20)
    )


@register(
    "text_winnow_fingerprint",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) - 1),
                     i -> {'pos': i,
                           'sh': ws[i] || ' ' || ws[i+1] || ' '
                                 || ws[i+2]})) AS s
          FROM words WHERE len(ws) >= 3),
    h AS (SELECT doc_id, s.pos AS pos,
                 (('0x' || substr(md5(s.sh), 1, 15))::BIGINT
                  % 2147483647) AS h
          FROM g),
    keyed AS (SELECT doc_id, pos,
                     h * 1048576 + (1048575 - pos) AS key FROM h),
    sel AS (SELECT doc_id,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN 3 PRECEDING
                                  AND CURRENT ROW) AS mkey
            FROM keyed)
    SELECT DISTINCT doc_id,
           1048575 - (mkey % 1048576) AS pos,
           mkey // 1048576 AS fp
    FROM sel WHERE doc_id < 100
    """,
    survey="D4 extension (document fingerprinting via winnowing — "
    "Schleimer et al. 2003's MOSS scheme: rolling window-min over "
    "k-gram hashes, the position-robust fingerprint family SimHash "
    "isn't)",
    scale="""
    Winnowing fingerprints as one window pass: hash every word 3-gram
    (the minhash family's 31-bit md5 reduction), then in each sliding
    window of 4 consecutive gram hashes select the minimum — ties to
    the RIGHTMOST position, encoded so a single min() does both (key =
    hash * 2^20 + (2^20-1 - pos): integer compare orders by hash then
    by DESCENDING position, and the selection decodes back out of the
    winning key) — and dedupe the selections. The guarantee that makes
    this THE plagiarism/overlap-detection fingerprint: any shared run
    of w+k-1 = 6 words between two documents shares at least one
    selected fingerprint, yet only ~2/(w+1) of grams are kept. Head
    windows are partial (the frame truncates), so docs with any gram
    at all fingerprint — the non-empty guarantee. Plan shape: one
    narrow explode, one per-doc window sort, one distinct — all keyed
    by doc_id, so at 100 TB it partitions perfectly by document with
    zero cross-doc traffic; the fingerprint relation (per-doc output,
    doc_id < 100 declared here to bound the fixture output) is the
    index a containment search then probes with a plain equijoin on
    fp. Integer key packing keeps both engines bit-identical (pos <
    2^20 by the 40-char/doc-length contract, hash < 2^31, key < 2^51).
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-gram fingerprints (w=4, k=3 words) for doc_id < 100."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2),"
                    " i -> concat_ws(' ', slice(ws, i, 3)))"
                )
            ).alias("pos0", "sh"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "sh")
    )
    h = (
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long")
        % 2147483647
    )
    # Loud packing guard (ADVICE r7): the hash-then-rightmost tie order
    # is only correct while pos < 2^20; past it the position field
    # underflows into the hash field and BOTH engines drift from the
    # winnowing spec identically, so the oracle could never catch it.
    # assert_true raises at runtime on the first offending row; the
    # coalesce folds its NULL into the key arithmetic so the check
    # can't be pruned as an unused column.
    pos_guard = F.coalesce(
        F.assert_true(
            F.col("pos") < 1048576,
            F.lit(
                "winnow key packing overflow: pos >= 2^20 corrupts the"
                " hash-then-rightmost tie order; widen the position"
                " field (key = hash * 2^B) before fingerprinting docs"
                " this long"
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    keyed = grams.select(
        "doc_id",
        "pos",
        (h * 1048576 + (F.lit(1048575) - F.col("pos")) + pos_guard).alias(
            "key"
        ),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, Window.currentRow)
    )
    return (
        keyed.withColumn("mkey", F.min("key").over(w))
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            (F.lit(1048575) - F.col("mkey") % 1048576).alias("pos"),
            F.expr("mkey div 1048576").alias("fp"),
        )
        .distinct()
    )


def _bpe_round_sql(prev: str, r: int) -> str:
    """One BPE merge round as DuckDB CTEs: pick the argmax pair from
    ``prev`` (word, wcount, idx, token), then greedy-merge it via the
    run-parity window mechanic (see text_bpe_train).

    When a round has NO pairs left (every word fully merged), b{r}
    emits a sentinel (' ', ' ', 0) instead of going empty: tokens come
    from split(text, ' ') so no token ever contains a space, making the
    merge a no-op — matching _bpe_learn's ``break``. Without it the
    CROSS JOIN in c{r} collapsed the whole token relation to empty and
    text_bpe_encode's oracle returned 0 rows while Spark returned the
    full vocab encoding (r11 text review finding #2; latent — the
    fixtures always yield 3 real merges). text_bpe_train filters the
    sentinel via cnt > 0.
    """
    return f"""
    pc{r} AS (SELECT token AS l, nxt AS r, CAST(sum(wcount) AS BIGINT) AS cnt
              FROM (SELECT token, wcount,
                           lead(token) OVER (PARTITION BY word
                                             ORDER BY idx) AS nxt
                    FROM {prev})
              WHERE nxt IS NOT NULL GROUP BY token, nxt),
    b{r} AS ((SELECT l, r, cnt FROM pc{r} ORDER BY cnt DESC, l, r LIMIT 1)
             UNION ALL
             (SELECT ' ', ' ', CAST(0 AS BIGINT)
              WHERE NOT EXISTS (SELECT 1 FROM pc{r}))),
    c{r} AS (SELECT t.word, t.wcount, t.idx, t.token,
                    lead(t.token) OVER (PARTITION BY t.word
                                        ORDER BY t.idx) AS nxt,
                    b.l, b.r
             FROM {prev} t CROSS JOIN b{r} b),
    g{r} AS (SELECT *,
                    CASE WHEN token = l AND nxt = r THEN idx -
                         sum(CASE WHEN token = l AND nxt = r
                                  THEN 1 ELSE 0 END)
                             OVER (PARTITION BY word ORDER BY idx)
                    END AS grp
             FROM c{r}),
    k{r} AS (SELECT *,
                    (grp IS NOT NULL AND
                     row_number() OVER (PARTITION BY word, grp
                                        ORDER BY idx) % 2 = 1) AS taken
             FROM g{r}),
    t{r} AS (SELECT word, wcount,
                    row_number() OVER (PARTITION BY word
                                       ORDER BY idx) AS idx,
                    CASE WHEN taken THEN token || nxt
                         ELSE token END AS token
             FROM (SELECT *, lag(taken) OVER (PARTITION BY word
                                              ORDER BY idx) AS ptaken
                   FROM k{r})
             WHERE NOT coalesce(ptaken, FALSE))"""


@register(
    "text_bpe_train",
    oracle=f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents),
    wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS wcount FROM w
           WHERE w <> '' AND length(w) <= 40 GROUP BY w),
    t0 AS (SELECT word, wcount, g.i AS idx, substr(word, g.i, 1) AS token
           FROM wc CROSS JOIN generate_series(1, 40) AS g(i)
           WHERE g.i <= length(word)),
    {_bpe_round_sql('t0', 1)},
    {_bpe_round_sql('t1', 2)},
    {_bpe_round_sql('t2', 3)}
    SELECT 1 AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM b1
    WHERE cnt > 0
    UNION ALL
    SELECT 2, l, r, cnt FROM b2 WHERE cnt > 0
    UNION ALL
    SELECT 3, l, r, cnt FROM b3 WHERE cnt > 0
    """,
    survey="D4/A12 extension (BPE tokenizer TRAINING: iterative merge "
    "rounds over the word histogram — the full loop text_bpe_pairs' "
    "scale note names, implemented)",
    scale="""
    text_bpe_pairs run to completion for 3 merge rounds (fixed for
    determinism): the corpus collapses ONCE to the (word, count)
    histogram — the only corpus-sized stage, one shuffle — and every
    round after that touches the vocab-bounded token relation only:
    pair counts are a |vocab| x word-length explode partial-aggregated
    to the pair vocabulary, the argmax is a 1-row driver pull per round
    (O(model), the iterative-driver contract of iterative_converge),
    and the merge itself is pure window algebra per word — greedy
    non-overlapping merge = mark candidate positions, group consecutive
    candidates into runs (idx minus running candidate count), take odd
    run offsets, drop the absorbed successor (lag), re-index. No fold,
    no UDF, no per-row Python: the same windows run identically in
    DuckDB, which is what makes the oracle exact. At 100 TB the rounds
    cost |vocab| x avg-word-length window work each — independent of
    corpus size and Zipf-bounded, which is why production BPE trainers
    operate on exactly this histogram; more merges = a longer loop,
    never a bigger relation. Words cap at 40 chars on both engines to
    bound pathological tokens, matching text_bpe_pairs.
    """,
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 3 BPE merges (greedy non-overlap) from the word histogram."""
    _, merges = _bpe_learn(spark, sf_dir, rounds=3)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_count bigint",
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Run ``rounds`` greedy BPE merges over the corpus word histogram.

    Returns (tok, merges): ``tok`` is the (word, wcount, idx, token)
    relation AFTER the merges — i.e. the trained tokenizer's encoding
    of the vocabulary, which is what ``text_bpe_encode`` declares —
    and ``merges`` the learned (lhs, rhs, pair_count) list that
    ``text_bpe_train`` declares. Shared so the two queries can never
    drift: the encoder IS the final state of the trainer's loop.
    """
    docs = table(spark, sf_dir, "documents")
    wc = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= 40))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    tok = wc.select(
        "word",
        "wcount",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            )
        ).alias("idx", "token"),
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("word").orderBy("idx")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    merges = []
    for _ in range(rounds):
        # paired is consumed twice per round (argmax collect + merge) and
        # deliberately NOT checkpointed: the r12 argument was finally
        # MEASURED at the 100-copy tier (r13, verdict task #6) — a
        # per-round localCheckpoint of paired ran WORSE in 3/3
        # interleaved rounds (text_bpe_encode medians 2.56 -> 4.53 s;
        # sf0.1 siblings unaffected): materializing the vocab x
        # word-length relation (+nxt) costs more than re-running one
        # codegen lead window over the round's tok checkpoint, at every
        # tier — the histogram is vocab-bounded, so this never flips.
        paired = tok.withColumn("nxt", F.lead("token").over(w))
        top = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("token", "nxt")
            .agg(F.sum("wcount").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "token", "nxt")
            .limit(1)
            .collect()
        )
        if not top:  # every word fully merged — no pairs left
            break
        best = top[0]
        merges.append((best["token"], best["nxt"], best["cnt"]))
        cand = (F.col("token") == best["token"]) & (
            F.col("nxt") == best["nxt"]
        )
        marked = (
            paired.withColumn(
                "grp",
                F.when(
                    cand, F.col("idx") - F.sum(cand.cast("int")).over(cum)
                ),
            )
            .withColumn(
                "taken",
                F.col("grp").isNotNull()
                & (
                    F.row_number().over(
                        Window.partitionBy("word", "grp").orderBy("idx")
                    )
                    % 2
                    == 1
                ),
            )
            .withColumn("ptaken", F.lag("taken").over(w))
        )
        tok = (
            marked.filter(~F.coalesce("ptaken", F.lit(False)))
            .select(
                "word",
                "wcount",
                F.row_number().over(w).alias("idx"),
                F.when(
                    F.col("taken"), F.concat("token", "nxt")
                ).otherwise(F.col("token")).alias("token"),
            )
            .localCheckpoint(eager=True)  # vocab-sized; cut round lineage
        )
    return tok, merges


@register(
    "text_bpe_encode",
    oracle=f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents),
    wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS wcount FROM w
           WHERE w <> '' AND length(w) <= 40 GROUP BY w),
    t0 AS (SELECT word, wcount, g.i AS idx, substr(word, g.i, 1) AS token
           FROM wc CROSS JOIN generate_series(1, 40) AS g(i)
           WHERE g.i <= length(word)),
    {{r1}},
    {{r2}},
    {{r3}}
    SELECT word,
           CAST(max(wcount) AS BIGINT) AS wcount,
           CAST(length(word) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(count(*) / (1.0 * length(word)), 6) AS compression
    FROM t3 GROUP BY word
    """.format(
        r1=_bpe_round_sql("t0", 1),
        r2=_bpe_round_sql("t1", 2),
        r3=_bpe_round_sql("t2", 3),
    ),
    survey="D4/A12 extension (BPE tokenizer APPLICATION: encode the "
    "vocabulary with the trained merges — the inference half of "
    "text_bpe_train, sharing its loop so trainer and encoder can't "
    "drift)",
    scale="""
    The encode path completes the tokenizer story (pairs → train →
    encode → fertility): per vocabulary word, the token count after
    the 3 trained merges, i.e. the trained tokenizer's segmentation.
    The relation declared is the VOCAB encoding — O(|vocab| x
    word-length), corpus-independent — because that is how production
    tokenizes at 100 TB: encode the (word, count) histogram once,
    then rejoin to the corpus by word (a broadcast: vocab is
    Zipf-tiny), never re-running merge windows per occurrence.
    ``compression`` (tokens per char) is the per-word fertility the
    rejoin aggregates. Shares _bpe_learn with text_bpe_train, so the
    declared encoder is BY CONSTRUCTION the trainer's final state;
    the oracle replays the same three merge rounds in SQL and
    re-derives the segmentation independently.
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word token counts under the 3 trained BPE merges."""
    tok, _ = _bpe_learn(spark, sf_dir, rounds=3)
    return tok.groupBy("word").agg(
        F.max("wcount").cast("long").alias("wcount"),
        F.length(F.first("word")).cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        pround(
            F.count(F.lit(1)) / F.length(F.first("word")).cast("double"), 6
        ).alias("compression"),
    )


@register(
    "text_bm25",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    q AS (SELECT DISTINCT w FROM tok WHERE doc_id = 0 ORDER BY w LIMIT 8),
    contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               * 1000000 + 0.5) AS BIGINT) AS c
      FROM tf JOIN q USING (w) JOIN df USING (w)
      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s),
    scored AS (SELECT doc_id, sum(c) AS micro FROM contrib GROUP BY doc_id)
    SELECT doc_id, round(micro / 1000000.0, 4) AS bm25, rk
    FROM (SELECT doc_id, micro,
                 row_number() OVER (ORDER BY micro DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
    survey="D4 extension (BM25 ranked retrieval over the token stats)",
    scale="""
    Full-text relevance on the same aggregates the tf-idf/postings
    family already builds: tf, per-doc length, df and corpus stats are
    partial-aggregated groupBys; the query term set (8 terms) and df
    broadcast onto tf so the big side never shuffles for the scoring
    join. Per-term contributions are quantized to integer micro-points
    BEFORE the per-doc sum — int64 addition is associative, so the
    score is bit-identical under ANY aggregation order on both engines
    (a raw double sum would be partial-aggregation-order dependent).
    Global top-10 is TakeOrderedAndProject. At 100 TB this is the
    retrieval scorer over the inverted index (text_postings): score
    only docs in the query terms' postings — exactly what the q-join
    does here.
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs for the query = first 8 distinct words of doc 0."""
    k1, b = 1.2, 0.75
    docs = table(spark, sf_dir, "documents")
    tok = tokens(docs)
    # the query is 8 words — collect them (the kmeans-centroid pattern:
    # k-sized driver round-trip, data never collected) so the term filter
    # pushes BELOW the tf aggregation and everything term-keyed is
    # query-sized: df for the query words falls out of the filtered tf
    # (a doc containing a query word is exactly a tf row for it), so the
    # full-vocabulary df aggregate disappears. Was 5 corpus scans / 12
    # exchanges; now 2 / 8.
    q_words = [
        r.word
        for r in tok.filter(F.col("doc_id") == 0)
        .select("word")
        .distinct()
        .orderBy("word")
        .limit(8)
        .collect()
    ]
    tf = (
        tok.filter(F.col("word").isin(q_words))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # doc lengths are entity-sized and read twice (stats + scoring join):
    # materialize once
    dl = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n")
    )
    idf = F.log(
        ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0
    )
    score = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(score * 1_000_000 + 0.5).cast("long").alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("c").alias("micro"))
    # global top-10 via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, no global sort); the rank window then runs over 10 rows only,
    # never the full scored relation
    top = scored.orderBy(F.desc("micro"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("micro"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        pround(F.col("micro") / 1_000_000.0, 4).alias("bm25"),
        "rk",
    )


@register(
    "text_perplexity",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS pair
           FROM words WHERE len(ws) >= 2),
    pairs AS (SELECT pair, count(*) AS c12 FROM bg GROUP BY pair),
    uni AS (SELECT string_split(pair, ' ')[1] AS w1, sum(c12) AS c1
            FROM pairs GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents)),
    contrib AS (
      SELECT bg.doc_id,
             CAST(floor(-ln((p.c12 + 1.0)
                            / (u.c1 + (SELECT v FROM vocab)))
                        * 1000000 + 0.5) AS BIGINT) AS nll
      FROM bg JOIN pairs p USING (pair)
      JOIN uni u ON u.w1 = string_split(bg.pair, ' ')[1])
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(sum(nll) / count(*) / 1000000.0, 4) AS avg_nll
    FROM contrib GROUP BY doc_id
    """,
    survey="D4 extension (bigram-LM negative log-likelihood — the "
    "CCNet-style LM quality filter)",
    scale="""
    The LM filter real pipelines gate pretraining data with: score every
    document by its average token negative log-likelihood under a
    Laplace-smoothed bigram model (perplexity = exp(avg_nll); the nll is
    declared because exp() at the boundary is the only cross-engine
    rounding risk). The model IS two aggregates (bigram counts + their
    w1 marginals — the text_bigram_lm table untruncated) joined back
    onto the per-doc bigram stream keyed on the bigram; per-bigram nll
    is quantized to integer micro-nats before the per-doc sum so the
    aggregate is order-independent and bit-identical across engines.
    The model build aggregates instances straight to pair totals —
    map-side combine makes that shuffle VOCAB-scaled — and scoring joins
    the instance stream against the (AQE-broadcast) model, so the only
    corpus-wide shuffle is the per-doc rollup. A per-(doc, pair)
    pre-aggregate, a corpus-keyed shuffle computed twice, took 136 of
    167 s at sf100-synth and read 11.9x/decade; this plan measures 35.6 s
    (4.1x/decade). At 100 TB with a web-scale vocab the scoring join
    degrades to shuffle-on-pair (or broadcast after frequency
    pruning); the doc stream never materializes its explode.
    """,
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc avg bigram negative log-likelihood (Laplace-smoothed LM)."""
    contrib = bigram_nll(table(spark, sf_dir, "documents")).select(
        "doc_id",
        # per-instance quantization is exact and order-independent:
        # every instance of a pair contributes the identical integer
        # micro-nats
        F.floor(F.col("nll") * 1_000_000 + 0.5).cast("long").alias("nll"),
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        pround(
            F.sum("nll") / F.count(F.lit(1)) / 1_000_000.0, 4
        ).alias("avg_nll"),
    )


def bigram_nll(docs: DataFrame) -> DataFrame:
    """(doc_id, nll): every bigram instance of ``docs`` scored under the
    Laplace-smoothed bigram LM built from ``docs`` themselves."""
    from .dedup import shingles

    bg = shingles(docs, k=2).select("doc_id", F.col("sh").alias("pair"))
    # The MODEL is vocab-bounded, the corpus is not: aggregate the
    # instance stream STRAIGHT to pair totals — map-side combine
    # collapses each task's instances to its local pair-distinct before
    # the exchange, so the model-build shuffle is vocab-scaled — and
    # materialize once (lineage cut, the similarity_ivf_trained
    # codebook discipline) so the marginal rollup and the scoring join
    # read the counts instead of re-running the aggregation.
    pairs = bg.groupBy("pair").agg(
        F.count(F.lit(1)).alias("c12")
    ).localCheckpoint(eager=True)
    w1 = F.split("pair", " ").getItem(0)
    uni = pairs.groupBy(w1.alias("w1")).agg(F.sum("c12").alias("c1"))
    vocab = tokens(docs).select("word").distinct()
    vocab = vocab.agg(F.count(F.lit(1)).alias("v"))
    nll = -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    return (
        bg.join(pairs, "pair")
        .withColumn("w1", w1)
        # no hard hints: the model relations are vocab-sized (unbounded
        # on a web corpus) — AQE broadcasts them while they fit, so the
        # instance stream never shuffles here; past broadcast size the
        # join degrades to shuffle-on-pair, the documented 100 TB
        # fallback
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
    )


@register(
    "text_pmi",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(ws)),
                  i -> ws[i] || ' ' || ws[i+1])) AS pair
           FROM words WHERE len(ws) >= 2),
    pairs AS (SELECT string_split(pair, ' ')[1] AS w1,
                     string_split(pair, ' ')[2] AS w2,
                     count(*) AS c12
              FROM bg GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM pairs),
    m1 AS (SELECT w1, sum(c12) AS c1 FROM pairs GROUP BY w1),
    m2 AS (SELECT w2, sum(c12) AS c2 FROM pairs GROUP BY w2)
    SELECT p.w1, p.w2, p.c12,
           round(ln((p.c12 * 1.0 / t.n)
                    / ((m1.c1 * 1.0 / t.n) * (m2.c2 * 1.0 / t.n))), 6)
               AS pmi
    FROM pairs p
    JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot t
    WHERE p.c12 >= 30
    """,
    survey="D4 extension (PMI collocation extraction)",
    scale="""
    Collocation mining: pointwise mutual information over the SAME
    bigram aggregate text_bigram_lm builds — both marginals (w1 starts,
    w2 ends) and the total derive FROM the pair counts (the tfidf
    df-trick: the corpus is exploded exactly once), then join back
    broadcast since both are vocabulary-sized. The c12 floor prunes the
    Zipf tail BEFORE the marginal joins. Frequency-floored PMI is the
    standard phrase-detection gate (word2vec-style phrase merging) in
    corpus preprocessing.
    """,
)
def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of frequent bigrams (collocation strength)."""
    from .dedup import shingles

    docs = table(spark, sf_dir, "documents")
    pairs = (
        shingles(docs, k=2)
        .select(
            F.split("sh", " ").getItem(0).alias("w1"),
            F.split("sh", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        # the pair-count model is vocab-bounded and read FOUR times
        # (total, both marginals, the floored probe): materialize once
        # instead of re-running the corpus aggregation per consumer
        # (4 corpus scans / 14 exchanges -> 1 / 8)
        .localCheckpoint(eager=True)
    )
    tot = pairs.agg(F.sum("c12").cast("long").alias("n"))
    m1 = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = pairs.groupBy("w2").agg(F.sum("c12").alias("c2"))
    p12 = F.col("c12") * 1.0 / F.col("n")
    p1 = F.col("c1") * 1.0 / F.col("n")
    p2 = F.col("c2") * 1.0 / F.col("n")
    return (
        # no hard hints on m1/m2: both marginals are vocab-sized — AQE
        # decides; tot is one row and keeps its broadcast
        pairs.filter(F.col("c12") >= 30)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c12",
            pround(F.log(p12 / (p1 * p2)), 6).alias("pmi"),
        )
    )


@register(
    "text_fertility",
    oracle="""
    WITH tok AS (SELECT d.lang, unnest(string_split(d.text, ' ')) AS w
                 FROM documents d)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)) AS BIGINT)
               AS n_subwords,
           round(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)) * 1.0
                 / count(*), 4) AS fertility,
           round(sum(length(w)) * 1.0
                 / sum(CAST(ceil(length(w) / 4.0) AS BIGINT)), 4)
               AS chars_per_subword
    FROM tok GROUP BY lang
    """,
    survey="D4 extension (tokenizer fertility per language — the "
    "multilingual token-budget planner)",
    scale="""
    Fertility (subword tokens per word) and compression (chars per
    subword) per language, from the same chars/4 BPE proxy text_tokens
    uses: languages with high fertility eat disproportionate context
    budget, which is exactly what corpus_temperature_mix's boost must
    be corrected by when budgets are measured in TOKENS not documents.
    One partial-aggregated groupBy over the token stream, integer
    numerators — nothing floats until the final ratios.
    """,
)
def text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language subword fertility and chars-per-subword."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    sub = F.ceil(F.length("w") / 4.0).cast("long")
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(sub).cast("long").alias("n_subwords"),
        pround(F.sum(sub) * 1.0 / F.count(F.lit(1)), 4).alias("fertility"),
        pround(F.sum(F.length("w")) * 1.0 / F.sum(sub), 4).alias(
            "chars_per_subword"
        ),
    )


@register(
    "text_entropy",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(c)) / CAST(sum(c) AS DOUBLE), 6) AS entropy
    FROM tf GROUP BY doc_id
    """,
    survey="D4 (unigram Shannon entropy per document — the low-diversity / "
    "boilerplate quality signal)",
    scale="""
    Entropy decomposed into the algebraic form
    H = log2(n) - sum(c*log2(c))/n so it is TWO partial-aggregated
    groupBys over the token stream (no join back to per-doc totals, no
    collected frequency vectors): (doc,word) counts shuffle once, then
    per-doc sums shuffle doc-count rows. Both sums are monoids — the
    100 TB plan is the wordcount plan. Low-entropy docs (template spam,
    repeated boilerplate) are exactly what this gate drops in a
    pretraining curation pipeline.
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy via the algebraic decomposition."""
    return doc_entropy(table(spark, sf_dir, "documents"), digits=6)


def doc_entropy(docs: DataFrame, digits: int | None = None) -> DataFrame:
    """(doc_id, n_words, entropy): unigram Shannon entropy per doc,
    H = log2(n) - sum(c*log2(c))/n; ``digits`` rounds inside the
    aggregate (None leaves it unrounded)."""
    tf = tokens(docs).groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").cast("double")
    h = F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        (h if digits is None else pround(h, digits)).alias("entropy"),
    )


@register(
    "text_zipf",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents),
    wf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
    top AS (SELECT w, f FROM wf ORDER BY f DESC, w LIMIT 256),
    ranked AS (SELECT f,
                      row_number() OVER (ORDER BY f DESC, w) AS r
               FROM top)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 4) AS zipf_r2
    FROM ranked
    """,
    survey="D4 extension (Zipf rank-frequency slope — corpus-health "
    "profiling: natural text fits ~-1, templated/synthetic corpora "
    "deviate)",
    scale="""
    The log-log regression runs over the TOP-256 frequencies only, so
    the global ranking never funnels the full vocabulary through one
    partition (the events_rfm lesson): word counts partial-aggregate,
    the top-256 cut is TakeOrderedAndProject (per-partition heaps +
    driver merge), and the row_number window then orders a
    256-row relation — bounded by construction at any corpus size.
    regr_slope/regr_r2 are algebraic aggregates (sums of x, y, xy, x²),
    partial-aggregated like any sum.
    """,
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope fit on the top-256 corpus word frequencies."""
    wf = (
        tokens(table(spark, sf_dir, "documents"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    top = wf.orderBy(F.desc("f"), "word").limit(256)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "word"))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        pround(F.regr_slope(F.log("f"), F.log("r")), 4).alias("zipf_slope"),
        pround(F.regr_r2(F.log("f"), F.log("r")), 4).alias("zipf_r2"),
    )


@register(
    "sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 0.5) / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars, round(k, 6) AS es_key
    FROM keyed ORDER BY k DESC, doc_id LIMIT 64
    """,
    survey="D4 extension (weighted sampling WITHOUT replacement — "
    "Efraimidis-Spirakis A-ES: top-k by exponential keys, the "
    "distributed weighted reservoir)",
    scale="""
    Weighted reservoir sampling with zero reservoir state: each row gets
    the deterministic key ln(u)/w (u uniform from md5, w = n_chars), and
    'sample k proportional to weight, without replacement' becomes plain
    top-k by key — TakeOrderedAndProject (per-partition heaps + driver
    merge of k rows), no global sort, no sequential pass (plan-asserted).
    This is how a 100 TB corpus yields a quality-weighted eval slice in
    one scan; u is hash-derived so the sample is reproducible across
    runs and engines (the same discipline as sample_hash). Selection
    compares UNROUNDED keys; collisions would need md5 agreement on the
    first 8 hex chars AND equal weights — then doc_id breaks the tie
    identically on both engines.
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-64 weighted sample (A-ES exponential keys, weight = n_chars)."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    # weight 0 (empty/NULL doc) means 'never sampled' in A-ES; filter
    # it out instead of dividing by zero -- ANSI throws where DuckDB
    # yields NULL (r11 stress-fixture sweep)
    keyed = d.filter(F.col("n_chars") > 0).select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(64)
        .select("doc_id", "n_chars", pround("k", 6).alias("es_key"))
    )


_EMAIL_RE = "[a-z0-9.-]+@[a-z0-9.-]+"
_IP_RE = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


@register(
    "text_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id,
                        text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com'
                        || repeat(' backup-' || CAST(doc_id AS VARCHAR)
                                  || '@alt.example.org',
                                  CAST(doc_id % 3 AS INT))
                        || ' via 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.42' AS t
                 FROM documents),
    red AS (SELECT doc_id, t,
                   regexp_replace(regexp_replace(t, '{_EMAIL_RE}',
                                                 '<EMAIL>', 'g'),
                                  '{_IP_RE}', '<IP>', 'g') AS r
            FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT) AS n_ips,
           CAST(length(r) AS BIGINT) AS redacted_len,
           md5(r) AS redacted_md5
    FROM red
    """,
    survey="D4/E83 (PII redaction: the scrub-before-training curation "
    "step — regex detect/replace for emails and IPs with per-doc "
    "counts and a full-text witness hash)",
    scale="""
    PII scrubbing as production runs it: detection and replacement are
    JVM-side regexp_count/regexp_replace inside whole-stage codegen —
    a narrow per-row map with NO shuffle, no UDF, linear in corpus
    bytes and embarrassingly partition-parallel at 100 TB (the regex
    engine is the bottleneck, so keeping it in codegen rather than a
    Python UDF is the 10-100x decision). The fixture text contains no
    organic PII, so both engines splice the SAME deterministic
    addresses in (1 + doc_id%3 emails, one IPv4) before scrubbing —
    the md5(redacted) witness then proves replacement happened at the
    right offsets relative to the variable-length document body, not
    just that counts matched; patterns stay in the RE2/Java common
    dialect (character classes only, greedy) so both engines parse
    them identically.
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact spliced emails/IPs; count hits and hash the scrubbed text."""
    d = fan_out(table(spark, sf_dir, "documents"))
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.repeat(
                F.concat(
                    F.lit(" backup-"),
                    F.col("doc_id").cast("string"),
                    F.lit("@alt.example.org"),
                ),
                (F.col("doc_id") % 3).cast("int"),
            ),
            F.lit(" via 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.42"),
        ).alias("t"),
    )
    red = F.regexp_replace(
        F.regexp_replace("t", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_IP_RE),
        F.lit("<IP>"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(_IP_RE)).cast("long").alias("n_ips"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


#: Hashed-ngram linear classifier constants (E106). The PRF weight table
#: replays bit-exactly in DuckDB: bucket = (60-bit md5 int mod P) mod B,
#: weight = LCG(bucket) mapped onto [-32768, 32767] — all int64 ops, so
#: both engines agree exactly; the only float op is the final division.
_QC_BUCKETS = 4096
_QC_WEIGHT = (
    "((1103515245 * ((cast(conv(substring(md5({f}),1,15),16,10) as bigint)"
    " % 2147483647) % 4096) + 12345) % 65536) - 32768"
)


def qc_sum_w():
    """Integer classifier score: sum of PRF weights over word uni+bigrams.

    THE one definition of the E106 feature/score expression — the
    classifier (``text_quality_classifier``) reports it and the E110
    URL dedup (``corpus_dedup_url_keepbest``) ranks survivors by it, so
    they cannot desynchronize. Operates on an array column ``toks``
    (``split(text, ' ')``); one codegen expression, zero shuffle.

    NULL text scores 0 (the outer ``coalesce``), matching the oracles'
    ``COALESCE(list_aggregate(...), 0)`` — without it a NULL-text doc
    yields ``keep = NULL`` here vs ``false`` in DuckDB and a NULL
    ``kept_sum_w`` in the E110 keep-best ranking (ADVICE r10, the same
    NULL class ``dedup_against_corpus`` fixed in r10).
    """
    uni_w = _QC_WEIGHT.format(f="w")
    big_w = _QC_WEIGHT.format(f="f")
    return F.expr(
        f"""
        coalesce(
        aggregate(
          transform(toks, w -> {uni_w}),
          0L, (acc, x) -> acc + x)
        + aggregate(
          transform(
            zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
                     slice(toks, 2, greatest(size(toks) - 1, 0)),
                     (a, b) -> concat(a, ' ', b)),
            f -> {big_w}),
          0L, (acc, x) -> acc + x),
        0L)
        """
    )


@register(
    "text_quality_classifier",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    f AS (
      SELECT doc_id,
             list_concat(toks,
               list_transform(toks[2:], (x, i) -> toks[i] || ' ' || x))
                 AS feats
      FROM d),
    agg AS (
      SELECT doc_id,
             COALESCE(len(feats), 0) AS n_features,
             CAST(COALESCE(list_aggregate(list_transform(feats,
                  f -> ((1103515245 *
                         ((('0x' || substr(md5(f),1,15))::BIGINT
                           % 2147483647) % 4096) + 12345) % 65536) - 32768),
                  'sum'), 0) AS BIGINT) AS sum_w
      FROM f)
    SELECT doc_id, n_features,
           round(sum_w / (n_features * 32768.0), 6) + 0.0 AS score,
           sum_w > 0 AS keep
    FROM agg
    """,
    survey="E106 (hashed-ngram linear quality classifier, fastText-style)",
    scale="""
    THE pretraining quality gate (fastText-style linear model over
    hashed word uni+bigrams), expressed as a pure per-row projection:
    tokens never explode, features never shuffle, the weight table is a
    PRF evaluated inline — the whole classifier is ONE whole-stage-
    codegen map over the scan, so at 100 TB it is scan-bound with zero
    exchanges and zero Python. A production model swaps the PRF for a
    broadcast int-array lookup (element_at on a 2^21 literal array or a
    broadcast join on bucket id) — identical plan shape, still
    shuffle-free. Demo weights are a PRF rather than trained values;
    training the weights is a separate (offline, model-sized) concern.
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality score over hashed word uni+bigrams, zero-shuffle.

    Capability parity: the quality-gate stage of a C4/RefinedWeb-style
    curation pipeline (``text_quality``'s heuristics approximate it;
    this is the learned-model form with feature hashing). Score =
    mean PRF weight over 4096 hash buckets of unigrams + bigrams,
    normalized to [-1, 1]; ``keep`` gates on the raw integer sum so the
    decision is float-free.
    """
    docs = table(spark, sf_dir, "documents")
    sum_w = qc_sum_w()
    # NULL text -> 0 features (size(NULL) is NULL since Spark 3), matching
    # the oracle's COALESCE(len(feats), 0); score stays NULL via 0/0.
    n_feat = F.coalesce(
        (F.size("toks") + F.greatest(F.size("toks") - 1, F.lit(0)))
        .cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            n_feat.alias("n_features"),
            sum_w.alias("sum_w"),
        )
        .select(
            "doc_id",
            "n_features",
            # try_divide: n_features=0 (NULL text) -> NULL score under
            # ANSI mode, matching DuckDB's NULL for 0/0.0
            pround0(
                F.try_divide(
                    F.col("sum_w"), F.col("n_features") * F.lit(32768.0)
                ),
                6,
            ).alias("score"),
            (F.col("sum_w") > 0).alias("keep"),
        )
    )

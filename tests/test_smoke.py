"""Smoke tests: entry contract, registry hygiene, flagship expectations."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from mrs_mapreduce_spark.registry import load_all

_ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _load_entry_module():
    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base",
        "sum_disc",
        "avg_qty",
        "cnt",
    }


def test_entry_contract_shapes():
    mod = _load_entry_module()
    queries = mod.queries()
    oracles = mod.oracle_sql()
    assert len(queries) >= 60
    assert set(oracles) <= set(queries)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_registry_metadata_complete():
    for name, q in load_all().items():
        assert q.survey, f"{name} missing survey row reference"
        assert q.scale, f"{name} missing scale design note"
        assert (q.builder.__doc__ or "").strip(), f"{name} missing docstring"


def test_flagship_matches_known_counts(registry_pass):
    """Q1 at sf0.001: 6 groups covering 4,964 filtered lineitems."""
    rows = {
        (r.l_returnflag, r.l_linestatus): r
        for r in registry_pass.built("groupby_agg").rows
    }
    assert len(rows) == 6
    assert sum(r.cnt for r in rows.values()) == 4964


def test_curate_corpus_example(spark, sf_dir, tmp_path, capsys):
    """The end-to-end curation pipeline prints its exact funnel and
    writes the sampled rows partitioned by lang."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples/curate_corpus.py"
    spec = importlib.util.spec_from_file_location("curate_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "curated")
    assert mod.main([sf_dir, out, "--sample-rate", "0.5"]) == 0
    assert capsys.readouterr().out == (
        "input=500 quality=424 exact_dedup=424 near_dedup=402 "
        f"sampled=208 -> {out}\n"
    )
    back = spark.read.parquet(out)
    assert back.count() == 208
    assert set(back.columns) == {"doc_id", "lang", "source", "text"}
    # partitioned by lang: a lang filter must prune directories
    pruned = back.filter(back.lang == "en")
    assert "PartitionFilters: [" in (
        pruned._jdf.queryExecution().executedPlan().toString()
    )


def test_search_corpus_example(spark, sf_dir):
    """The retrieval example: AND semantics hold and ranking is total."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table

    path = Path(__file__).resolve().parent.parent / "examples/search_corpus.py"
    spec = importlib.util.spec_from_file_location("search_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    terms = ["spark", "join"]
    rows = mod.search(spark, sf_dir, terms, top=10).collect()
    assert 0 < len(rows) <= 10
    # every hit really contains every term
    docs = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in rows]))
        .collect()
    }
    for r in rows:
        words = set(docs[r.doc_id].split())
        assert all(t in words for t in terms), r.doc_id
    # scores descend (ties broken by doc_id ascending)
    scores = [(r.score, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_stream_pipeline_example(spark, sf_dir, tmp_path):
    """The streaming pipeline drains and its sink equals the batch twin."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.streaming.sinks import _EVENT_DIM

    path = Path(__file__).resolve().parent.parent / "examples/stream_pipeline.py"
    spec = importlib.util.spec_from_file_location("stream_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "sessions")
    rows = {r.category: (r.n_sessions, r.n_events) for r in mod.run(spark, sf_dir, out)}
    assert rows

    dim = spark.createDataFrame(
        list(_EVENT_DIM), "event_type string, category string, weight double"
    )
    twin = {
        r.category: (r.n_sessions, r.n_events)
        for r in table(spark, sf_dir, "events")
        .join(F.broadcast(dim), "event_type")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
            "category",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
        )
        .collect()
    }
    assert rows == twin


def test_search_corpus_bm25_mode(spark, sf_dir):
    """BM25 ranking keeps AND semantics and total ordering; the hit SET
    equals tf-idf's (same AND filter — only the ranking differs)."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples/search_corpus.py"
    spec = importlib.util.spec_from_file_location("search_corpus_b", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    terms = ["spark", "join"]
    bm = mod.search(spark, sf_dir, terms, top=1000, bm25=True).collect()
    tfidf = mod.search(spark, sf_dir, terms, top=1000, bm25=False).collect()
    assert {r.doc_id for r in bm} == {r.doc_id for r in tfidf}
    scores = [(r.score, -r.doc_id) for r in bm]
    assert scores == sorted(scores, reverse=True)


def test_showcase_prefix_protects_the_driver_gate():
    """The external driver hashes the FIRST 50 of queries() — every
    prefix slot must carry an exact SQL oracle (rows-only entries would
    waste a rotation slot), and SHOWCASE must stay exactly 50 so query
    additions can't silently push a planned slot out of the window."""
    from mrs_mapreduce_spark.registry import SHOWCASE, load_all

    reg = load_all()
    assert len(SHOWCASE) == 50
    prefix = list(reg)[:50]
    assert prefix == list(SHOWCASE)
    missing = [n for n in prefix if reg[n].oracle is None]
    assert not missing, missing


def test_threshold_queries_nondegenerate(registry_pass):
    """Queries with data-dependent constants must exercise their logic:
    a fixture regeneration that silently empties them (the round-2
    join_pit_scd2 lesson — 0 rows passed the oracle trivially) should
    fail HERE first."""

    nonempty = [
        "join_pit_scd2", "dedup_minhash_eval", "text_pmi", "text_bm25",
        "events_funnel_bounded", "dedup_against_corpus",
    ]
    for name in nonempty:
        assert len(registry_pass.built(name).rows) > 0, name
    ab = registry_pass.built("events_abtest").rows[0]
    # both arms must be PARTIAL conversions (0 < c < n) or the pooled
    # z denominator degenerates to zero
    assert 0 < ab.c0 < ab.n0 and 0 < ab.c1 < ab.n1, ab


def test_pretrain_pipeline_example(spark, sf_dir, tmp_path, capsys):
    """The end-to-end pretraining curation chain prints its exact
    funnel, stage by stage, and writes the sampled rows by lang."""
    import importlib.util
    from pathlib import Path

    path = (
        Path(__file__).resolve().parent.parent
        / "examples/pretrain_pipeline.py"
    )
    spec = importlib.util.spec_from_file_location("pretrain_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "corpus")
    assert mod.main([sf_dir, out]) == 0
    funnel = [
        line.split(":") for line in capsys.readouterr().out.splitlines()
    ]
    assert [(k.strip(), int(n)) for k, n in funnel] == [
        ("raw", 500),
        ("quality_gate", 424),
        ("entropy_gate", 424),
        ("perplexity_gate", 382),
        ("exact_dedup", 382),
        ("substring_dedup", 347),
        ("near_dedup", 347),
        ("decontaminated", 206),
        ("temperature_sampled", 190),
    ]
    written = spark.read.parquet(out)
    assert written.count() == 190
    assert "lang" in written.columns  # partition column survives


def test_round3_threshold_queries_nondegenerate(spark, sf_dir, registry_pass):
    """Round-3 data-dependent constants must stay observable after any
    fixture regeneration (the join_pit_scd2 lesson)."""
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.registry import load_all

    reg = load_all()
    # SemDeDup's 0.4 cosine threshold must actually drop vectors
    assert len(registry_pass.built("dedup_semdedup").rows) > 0
    # substring dedup must see SOME cross-doc shared 8-grams
    dup = (
        reg["dedup_substring"].builder(spark, sf_dir)
        .agg(F.sum("n_dup_grams").alias("s")).collect()[0].s
    )
    assert dup and dup > 0
    # the null-safe join's NULL bucket must be populated (region 0 row)
    ns = {r.r_name: r.n_orders
          for r in registry_pass.built("join_null_safe").rows}
    assert len(ns) == 5 and all(v > 0 for v in ns.values())


def test_similarity_range_nondegenerate(registry_pass):
    assert len(registry_pass.built("similarity_range").rows) > 0


def test_observation_metrics_piggyback_on_flagship(spark, sf_dir):
    """A14 monitoring parity, batch side: Observation collects row/sum
    metrics DURING the flagship query's own execution (no second scan),
    complementing Job.progress' task-fraction view."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.registry import load_all

    obs = Observation("flagship")
    df = load_all()["groupby_agg"].builder(spark, sf_dir)
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n_groups"), F.sum("cnt").alias("n_rows")
    )
    rows = observed.collect()
    assert obs.get["n_groups"] == len(rows)
    assert obs.get["n_rows"] == sum(r.cnt for r in rows)


def test_csv_permissive_quarantines_exactly_the_bad_rows(spark, sf_dir):
    """All 3 injected garbage lines must land in the corrupt column;
    no clean row may be lost to quarantine."""
    import tempfile

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.exprs import pround

    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_name", pround("c_acctbal", 2).alias("bal"))
    )
    lines = cust.select(
        F.concat_ws(",", "c_custkey", "c_name",
                    F.col("bal").cast("string")).alias("value")
    )
    bad = spark.createDataFrame(
        [("not_a_key,Garbage#1,not_a_number",),
         ("99999,Too#Many,1.0,extra,columns",),
         ("###",)],
        "value string",
    )
    target = tempfile.mkdtemp(prefix="mrs_csv_perm_t_") + "/dirty"
    lines.unionByName(bad).write.mode("overwrite").text(target)
    back = (
        spark.read.schema(
            "c_custkey bigint, c_name string, bal double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(target)
    )
    # Spark disallows queries touching ONLY the corrupt column on a raw
    # CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); cache() is the
    # documented workaround
    back = back.cache()
    n_good = cust.count()
    assert back.filter(F.col("_corrupt").isNotNull()).count() == 3
    assert back.filter(F.col("_corrupt").isNull()).count() == n_good
    back.unpersist()


def test_minhash_cap_is_observable_and_subset(registry_pass):
    """The B=2 bucket cap must actually drop pairs (fixture has size-3
    buckets) and never invent ones the uncapped pipeline lacks."""

    full = {
        (r.doc_a, r.doc_b)
        for r in registry_pass.built("dedup_minhash_pairs").rows
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in registry_pass.built("dedup_minhash_capped").rows
    }
    assert capped < full  # strict subset: cap observable, nothing invented


def test_simblocked_jaccard_nondegenerate(registry_pass):
    n = len(registry_pass.built("dedup_ngram_jaccard_simblocked").rows)
    assert n > 0


def test_ngram_jaccard_multiprobe_observable(spark, sf_dir, registry_pass):
    """Round-5 re-block: the base query's 1-bit multiprobe must be
    doing real work — it finds pairs whose top-8 simhash prefixes
    differ (by exactly one bit), which exact-prefix blocking would
    miss. At sf0.01: 44 pairs total, 33 of them cross-prefix."""
    from mrs_mapreduce_spark.llm.dedup import dedup_simhash

    pairs = registry_pass.built("dedup_ngram_jaccard").rows
    assert len(pairs) > 0
    blk = {
        r.doc_id: r.simhash // 256
        for r in dedup_simhash(spark, sf_dir).collect()
    }
    cross = [p for p in pairs if blk[p.doc_a] != blk[p.doc_b]]
    assert cross, "multiprobe found no cross-prefix pairs — vacuous"
    for p in cross:
        assert bin(blk[p.doc_a] ^ blk[p.doc_b]).count("1") == 1


def test_ann_search_example(spark, sf_dir, capsys):
    """The ANN-ladder example runs end to end and multi-probe LSH beats
    single-bucket LSH (the measured r3 recall win, 0.03 -> 0.23)."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples/ann_search.py"
    spec = importlib.util.spec_from_file_location("ann_search", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from mrs_mapreduce_spark.registry import load_all

    registry = load_all()
    truth = mod.top3_pairs(registry, "similarity_topk", spark, sf_dir)
    assert truth
    lsh = mod.top3_pairs(registry, "similarity_lsh", spark, sf_dir)
    lsh_mp = mod.top3_pairs(
        registry, "similarity_lsh_multiprobe", spark, sf_dir
    )
    assert len(lsh_mp & truth) >= len(lsh & truth)
    # the trained-IVF ladder rung must produce non-degenerate recall
    ivf_t = mod.top3_pairs(
        registry, "similarity_ivf_trained", spark, sf_dir
    )
    assert len(ivf_t & truth) > 0


def test_no_query_returns_zero_rows(spark):
    """Non-degeneracy, registry-wide, at the DRIVER'S tier (sf0.01): a
    declared query that returns ZERO rows is a vacuous oracle witness —
    both engines hash an empty set and any wrong plan that also returns
    nothing goes green forever (join_anti shipped that way for three
    rounds; scalar_subquery's 2x threshold sat just above the data's
    max/avg — both caught by the round-4 zero-row audit). join_theta
    and tpch_q7 are legitimately empty at sf0.001, hence the sf0.01
    tier here."""
    from mrs_mapreduce_spark.registry import load_all

    empty = []
    for name, q in sorted(load_all().items()):
        try:
            if q.builder(spark, "/root/testdata/sf0.01").limit(1).count() == 0:
                empty.append(name)
        except Exception as exc:  # noqa: BLE001 — surface builder breakage
            empty.append(f"{name} (ERR {type(exc).__name__})")
    assert not empty, f"zero-row / broken declared queries: {empty}"


def test_recall_witness_bounds_and_exact_side(registry_pass):
    """The witness is only a witness if its numbers are structurally
    honest: every query row reports n_exact == 5 (ground truth is the
    full top-5, never truncated by the approx side's misses), n_hit in
    [0, 5], and recall == n_hit / 5 exactly. A LEFT-join orientation
    bug (approx LEFT exact) would silently cap n_exact at the approx
    candidate count and inflate recall — this pins the denominator."""

    for name in ("similarity_recall_witness", "similarity_recall_ivf"):
        rows = registry_pass.built(name).rows
        assert len(rows) == 10, name  # one row per query, misses included
        for r in rows:
            assert r.n_exact == 5, (name, r)
            assert 0 <= r.n_hit <= 5, (name, r)
            assert abs(r.recall - r.n_hit / 5) < 1e-9, (name, r)


def test_cli_surface(spark, sf_dir, capsys, monkeypatch):
    """A17: --list/--query/--oracle/--explain/--splits through the one
    CLI (python -m mrs_mapreduce_spark delegates to cli.main)."""
    from mrs_mapreduce_spark.cli import main

    assert main(["--list"]) == 0
    assert "text_redact" in capsys.readouterr().out

    assert main(["--query", "groupby_agg", "--sf-dir", sf_dir,
                 "--show", "2"]) == 0
    assert "l_returnflag" in capsys.readouterr().out

    assert main(["--query", "tpch_q6", "--oracle"]) == 0
    assert "l_extendedprice" in capsys.readouterr().out

    assert main(["--query", "tpch_q6", "--sf-dir", sf_dir,
                 "--explain"]) == 0
    assert "Physical Plan" in capsys.readouterr().out

    # --splits sets the SQL shuffle width and the parity layer's splits
    # (Job follows sc.defaultParallelism) alike
    import mrs_mapreduce_spark.session as session

    confs = {}

    def capture(app_name, master=None, extra=None):
        confs.update(extra or {})
        return spark

    monkeypatch.setattr(session, "get_session", capture)
    assert main(["--query", "reduce_sum", "--sf-dir", sf_dir,
                 "--splits", "3", "--show", "1"]) == 0
    assert "cnt" in capsys.readouterr().out
    assert confs["spark.sql.shuffle.partitions"] == "3"
    assert confs["spark.default.parallelism"] == "3"

    assert main(["--query", "not_a_query"]) == 2
    # a query without oracle SQL: exit 1, saying the oracle check fails it
    from mrs_mapreduce_spark.registry import REGISTRY, Query

    name = "_oracle_less_probe"
    monkeypatch.setitem(REGISTRY, name, Query(
        name, lambda spark, sf_dir: spark.range(1), None, "", ""
    ))
    assert main(["--query", name, "--oracle"]) == 1
    err = capsys.readouterr().err
    assert "has no SQL oracle; the oracle check fails" in err


def test_table_diff_counts_are_exactly_the_synthetic_deltas(spark, sf_dir, registry_pass):
    """B's construction pins every class count: k%7 deleted+reinserted,
    k%5 (and not %7) repriced, the rest byte-identical."""
    from mrs_mapreduce_spark.catalog import table

    rows = {
        r.change_type: r
        for r in registry_pass.built("table_diff").rows
    }
    n = table(spark, sf_dir, "orders").count()
    dele, ins = rows["deleted"].n, rows["inserted"].n
    upd, same = rows["updated"].n, rows["unchanged"].n
    assert dele == ins  # every deleted key re-enters under a shifted key
    assert dele + upd + same == n
    assert rows["inserted"].min_key >= 10000000  # shifted key space


def test_kanonymity_audit_accounts_for_every_row(spark, sf_dir, registry_pass):
    from mrs_mapreduce_spark.catalog import table

    r = registry_pass.built("scan_kanonymity").rows[0]
    assert r.n_rows == table(spark, sf_dir, "customer").count()
    assert 0 <= r.n_violating <= r.n_groups
    assert r.n_rows_at_risk <= r.n_rows
    assert r.min_group_size >= 1


def test_govern_release_example(spark, sf_dir, capsys):
    """The governance example runs all three stages and reports them."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples/govern_release.py"
    spec = importlib.util.spec_from_file_location("govern_release", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.run(spark, sf_dir)
    assert out["kanon"].n_groups > 0
    assert set(out["takedown"]) == {"documents", "chunks", "postings"}
    assert len(out["release"]) == 5  # one row per event type

"""Pin the collapsed-edge components path against the uncapped pair graph.

dedup_components(_star) no longer materialize the full LSH pair list:
exact copies are collapsed to one representative per distinct content
before the pair pipeline, and copies reconnect via rep->copy star edges
(llm/dedup.py::_collapsed_parts). That is only sound if components
over the collapsed graph EQUAL components over the uncapped pair graph —
these tests pin the equality on corpora engineered to stress the three
load-bearing claims:

1. exact copies are always pairwise-connected in the uncapped graph
   (identical shingles => co-bucketed + Jaccard 1.0), so star edges add
   no new connectivity;
2. cross-content pair existence depends only on the contents, so one
   rep pair substitutes for all c_a*c_b copy pairs;
3. docs with < 3 words have NO shingles and are isolated in the true
   graph even when exact copies exist — star edges must EXCLUDE them.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrs_mapreduce_spark.llm.dedup import (
    _collapsed_parts,
    _minhash_pairs,
    component_labels,
    dedup_components,
    dedup_components_star,
    propagate_min_labels,
)

_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
    ]
)


def _write_docs(spark, path: str, texts: list[str | None]) -> str:
    rows = [
        (i, t, "en", "synthetic", len(t or "")) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/documents.parquet")
    return path


def _corpus_with_replicas() -> list[str | None]:
    """3 near-dup content families x 4 exact copies each, 2 singletons,
    3 exact copies of a 2-word doc (shingle-less: must stay isolated),
    and two NULL-text docs (no text at all: must stay isolated)."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while morning sun rises slowly above distant quiet hills today"
    )
    words = base.split()
    # family B: one word substituted => Jaccard of 3-shingle sets >= 0.5
    fam_b = " ".join(["bright" if i == 1 else w for i, w in enumerate(words)])
    # family C: disjoint vocabulary => never pairs with A/B
    fam_c = (
        "seven silver ships sailed south beyond stormy seas carrying spice "
        "and silk toward ancient harbours under constellations nobody named"
    )
    singles = [
        "completely unrelated text about compilers optimizing loop nests",
        "another isolated document discussing tidal ecology of estuaries",
    ]
    short = "hi there"
    texts = []
    for fam in (base, fam_b, fam_c):
        texts.extend([fam] * 4)
    texts.extend(singles)
    texts.extend([short] * 3)
    texts.extend([None] * 2)
    return texts


def _collapsed_edges(spark, sf: str):
    rep_pairs, star = _collapsed_parts(spark, sf)
    return rep_pairs.union(star)


def _components_over(spark, edges) -> dict[int, int]:
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    return {
        r["doc_id"]: r["lbl"] for r in propagate_min_labels(sym).collect()
    }


def test_collapsed_edges_match_uncapped_components(spark, tmp_path):
    sf = _write_docs(spark, str(tmp_path / "sf"), _corpus_with_replicas())
    truth = _components_over(
        spark, _minhash_pairs(spark, sf, cap=None).select("doc_a", "doc_b")
    )
    collapsed = _components_over(spark, _collapsed_edges(spark, sf))
    assert collapsed == truth
    # the r12 shared path (propagation over reps only + star-copy join,
    # memoized) must produce the identical node->label map; fam_c's rep
    # has copies but NO near-dup pairs, exercising the coalesce branch
    fast = {
        r["doc_id"]: r["lbl"]
        for r in component_labels(spark, sf).collect()
    }
    assert fast == truth
    # the corpus really exercises replicas: families span exact copies
    assert len(truth) >= 12  # 3 families x 4 copies (+ any extra pairs)
    # the NULL-text docs are singleton families: in no star edge, no label
    nulls = {17, 18}
    _, star = _collapsed_parts(spark, sf)
    assert star.count() > 0
    assert not any({r.doc_a, r.doc_b} & nulls for r in star.collect())
    assert not nulls & set(fast)


def test_short_doc_copies_stay_isolated(spark, tmp_path):
    sf = _write_docs(
        spark,
        str(tmp_path / "sf"),
        ["hi there", "hi there", "hi there", "one", "one", None, None],
    )
    edges = _collapsed_edges(spark, sf)
    assert edges.count() == 0  # no shingles anywhere => empty graph
    # NULL text (ids 5, 6) forms singleton families: no star edge, no label
    _, star = _collapsed_parts(spark, sf)
    assert star.count() == 0
    assert component_labels(spark, sf).count() == 0


def test_builders_agree_with_each_other(spark, tmp_path):
    sf = _write_docs(spark, str(tmp_path / "sf"), _corpus_with_replicas())
    a = {
        (r["component"], r["n_docs"], r["members"])
        for r in dedup_components(spark, sf).collect()
    }
    b = {
        (r["component"], r["n_docs"], r["members"])
        for r in dedup_components_star(spark, sf).collect()
    }
    assert a == b and len(a) >= 2


def test_component_labels_recompute_per_call(spark, tmp_path):
    """No cross-call memo (r12 optimization-round rule: every
    invocation computes from the parquet inputs): a rebuilt fixture is
    reflected immediately, and the custom-docs path labels exact
    copies through the star slice."""
    sf = _write_docs(spark, str(tmp_path / "sf"), _corpus_with_replicas())
    first = component_labels(spark, sf)
    assert first.count() >= 12
    # rewrite with different content: the fresh call must see it
    _write_docs(spark, sf, ["hi there", "hi there"])
    assert component_labels(spark, sf).count() == 0  # shingle-less
    # custom-docs callers label through the same path
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")],
        "doc_id long, text string",
    )
    labelled = component_labels(spark, sf, docs=docs)
    assert {r["doc_id"]: r["lbl"] for r in labelled.collect()} == {
        1: 1,
        2: 1,
    }

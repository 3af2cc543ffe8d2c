"""Near-dup quality: the approximate tiers must recover the exact
Jaccard pairs (SURVEY §5.2 — LSH keys are rows-only for the oracle, so
recall vs brute force is asserted here instead)."""

import pytest
from pyspark.sql import functions as F


def pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    from algebraicdb_spark.operators.dedup import dedup_near_jaccard

    return pairs(dedup_near_jaccard(spark, sf_dir))


def test_exact_jaccard_finds_planted_dups(exact_pairs):
    assert len(exact_pairs) > 0, "fixture should contain near-dup pairs"


def test_minhash_lsh_recall(spark, sf_dir, exact_pairs):
    from algebraicdb_spark.operators.dedup import dedup_minhash_lsh

    got = pairs(dedup_minhash_lsh(spark, sf_dir))
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} < 0.8"
    # rerank guarantees precision: every emitted pair passes exact tau
    assert got <= exact_pairs


def test_simhash_pairs_are_true_near_dups(spark, sf_dir, exact_pairs):
    from algebraicdb_spark.operators.dedup import dedup_simhash

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_simhash(spark, sf_dir).collect()
    }
    assert len(got) > 0
    # hamming<=3 is stricter than jaccard>=tau: subset of the exact pairs
    assert got <= exact_pairs


def test_exact_dedup_no_false_removals(spark, sf_dir):
    from algebraicdb_spark.operators.dedup import dedup_exact

    row = dedup_exact(spark, sf_dir).collect()[0]
    assert row["n_removed"] == 0  # fixture invariant: no exact dups
    assert row["n_docs"] == row["n_unique"]


def test_connected_components_chain(spark):
    """A~B, B~C chains must collapse to ONE component (pairwise
    dropping alone would leave C a duplicate of A)."""
    from algebraicdb_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a bigint, doc_b bigint",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "doc_id bigint")
    comp = {r.id: r.label for r in connected_components(edges, nodes).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20
    assert comp[99] == 99  # singleton untouched


def test_near_dup_pairs_facade_routes_to_lsh(spark, sf_dir, tables, exact_pairs):
    """The caller-facing entry point defaults to the LSH tier — the
    plan that survives corpus scale — and only `exact=True` opts into
    the quadratic exhaustive tier. Both agree on the fixture: the
    exact facade IS the exact pair set; the default is its LSH subset
    with the pinned recall floor."""
    from algebraicdb_spark.operators.dedup import near_dup_pairs

    docs = tables["documents"]
    got_exact = pairs(near_dup_pairs(docs, exact=True))
    assert got_exact == exact_pairs
    got_lsh = pairs(near_dup_pairs(docs))
    assert got_lsh <= exact_pairs  # rerank precision
    assert len(got_lsh & exact_pairs) / len(exact_pairs) >= 0.8


def test_df_cap_keeps_recall(spark, sf_dir, tables):
    """DF-capped candidate generation must find the SAME τ=0.5 pairs
    the uncapped exact tier finds, while pruning hot shingles."""
    from algebraicdb_spark.operators.dedup import (
        dedup_near_jaccard,
        jaccard_candidate_pairs,
        jaccard_pairs_capped,
    )

    docs = tables["documents"]
    exact = {
        (r.doc_a, r.doc_b) for r in dedup_near_jaccard(spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b) for r in jaccard_pairs_capped(docs, max_df=5).collect()
    }
    assert exact  # fixture contains true near-dups
    assert capped == exact  # full recall at max_df=5 (fixture max DF is 9)
    n_uncapped = jaccard_candidate_pairs(docs).count()
    n_capped = jaccard_candidate_pairs(docs, max_df=5).count()
    assert n_capped < n_uncapped  # the cap actually prunes work


def _views(spark, prefix):
    return {t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)}


def test_minhash_pairs_rejects_non_numeric_tau(spark, tables):
    """tau is coerced with float() before anything is built, so only a
    numeric literal can reach the SQL text."""
    from algebraicdb_spark.operators.dedup import minhash_pairs

    with pytest.raises(ValueError):
        minhash_pairs(tables["documents"], tau="0.5 OR 1 = 1")
    assert not _views(spark, "__mh_toks_")


def test_dedup_funnel_leaks_no_view_when_minhash_raises(spark, sf_dir, tables, monkeypatch):
    """A failing near-dup tier leaves the session catalog as it was:
    neither __funnel_* view survives."""
    from algebraicdb_spark.operators import pipeline

    def boom(*_a, **_k):
        raise RuntimeError("minhash tier failed")

    monkeypatch.setattr(pipeline, "minhash_pairs", boom)
    with pytest.raises(RuntimeError, match="minhash tier failed"):
        pipeline.pipeline_dedup_funnel(spark, sf_dir)
    assert not _views(spark, "__funnel_")

"""Known-answer tests for the text-function layer: shingles (edge cases of
the zip_with construction), title/author heuristics, tag normalization,
minhash signature determinism."""

import pytest
from pyspark.sql import functions as F

from pdf_brain_spark.functions.text import (
    clean_title,
    extract_author,
    normalize_tag,
    shingles,
    tokenize_sql,
)


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(
        [
            ("empty", ""),
            ("one", "alpha"),
            ("two", "alpha beta"),
            ("three", "alpha beta gamma"),
            ("five", "a b c d e"),
            ("spaced", "  a   b\tc  "),
        ],
        "name string, text string",
    )


def test_shingles_edge_cases(spark, text_df):
    rows = {
        r["name"]: r["sh"]
        for r in text_df.select(
            "name", shingles(tokenize_sql("text"), 3).alias("sh")
        ).collect()
    }
    assert rows["empty"] == []
    assert rows["one"] == []
    assert rows["two"] == []
    assert rows["three"] == ["alpha beta gamma"]
    assert rows["five"] == ["a b c", "b c d", "c d e"]
    # tokenizer collapses arbitrary whitespace before shingling
    assert rows["spaced"] == ["a b c"]


def test_shingles_k2(spark, text_df):
    rows = {
        r["name"]: r["sh"]
        for r in text_df.select(
            "name", shingles(tokenize_sql("text"), 2).alias("sh")
        ).collect()
    }
    assert rows["one"] == []
    assert rows["five"] == ["a b", "b c", "c d", "d e"]


def test_clean_title_and_author(spark):
    df = spark.createDataFrame(
        [
            ("docs/x/Annual_Report%20final_(2021)_by_Smith.pdf",),
            ("Machine-Learning.Basics.md",),
            ("notes (Jones).txt",),
            ("trailing - Lee",),
        ],
        "fname string",
    )
    got = df.select(
        clean_title("fname").alias("t"), extract_author("fname").alias("a")
    ).collect()
    assert got[0]["t"] == "docs/x/Annual Report final by Smith"
    assert got[0]["a"] == "Smith"
    assert got[1]["t"] == "Machine Learning Basics"
    assert got[1]["a"] is None
    assert got[2]["a"] == "Jones"
    assert got[3]["a"] == "Lee"


def test_normalize_tag(spark):
    df = spark.createDataFrame([("  Machine Learning!! (v2) ",)], "t string")
    assert df.select(normalize_tag("t").alias("n")).first()["n"] == "machine-learning-v2"


def test_minhash_signature_deterministic(spark):
    """Same input → identical signature across runs; signature components
    stay within the affine family's modulus."""
    from pdf_brain_spark.operators.dedup import MINHASH_PRIME, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r for r in minhash_signatures(docs).collect()}
    b = {r["doc_id"]: r for r in minhash_signatures(docs).collect()}
    assert a.keys() == b.keys()
    for k in a:
        for j in range(16):
            assert a[k][f"h{j}"] == b[k][f"h{j}"]
            assert 0 <= a[k][f"h{j}"] < MINHASH_PRIME
    # near-identical docs share most minhash components
    shared = sum(a[1][f"h{j}"] == a[2][f"h{j}"] for j in range(16))
    assert shared >= 8

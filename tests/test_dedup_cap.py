"""Hot-shingle (stop-shingle) document-frequency cap for n-gram Jaccard.

A shingle shared by d documents contributes d^2 rows to the candidate
equi-join; one corpus-wide boilerplate shingle makes the join quadratic in
corpus size. max_df drops such shingles BEFORE the join, from both the
intersection counts and the per-doc sizes, so the result is a true Jaccard
over the filtered shingle space.
"""

from __future__ import annotations

import pytest

from resolve_overlap_and_gap_spark.operators.dedup import ngram_jaccard_pairs

DOCS = [
    (1, "apple banana cherry common"),
    (2, "apple banana date common"),
    (3, "xxx common"),
    (4, "yyy common"),
    (5, "zzz common"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.mark.spark
def test_uncapped_includes_boilerplate_pairs(spark, docs):
    out = {(r.id_a, r.id_b): r.jaccard_x1e6
           for r in ngram_jaccard_pairs(docs, k=1, threshold=0.3).collect()}
    # (1,2): {apple,banana,common} / 5 = 0.6
    assert out[(1, 2)] == 600000
    # boilerplate-only pairs sneak in: {common} / 3 = 0.333…
    assert (3, 4) in out and (3, 5) in out and (4, 5) in out


@pytest.mark.spark
def test_max_df_drops_hot_shingle(spark, docs):
    out = {(r.id_a, r.id_b): r.jaccard_x1e6
           for r in ngram_jaccard_pairs(docs, k=1, threshold=0.3,
                                        max_df=2).collect()}
    # 'common' has df=5 > 2 -> dropped everywhere: (1,2) is now
    # {apple,banana} / 4 = 0.5 and the boilerplate-only pairs vanish
    assert out == {(1, 2): 500000}


@pytest.mark.spark
def test_html_to_text_wrapper(spark):
    from pyspark.sql import functions as F

    from resolve_overlap_and_gap_spark.derive import SPARK
    from resolve_overlap_and_gap_spark.operators.textstats import html_to_text_sql

    rows = [(1, "<html><body><h1>Title</h1><p>Hello &amp; goodbye</p>"
                "<script>var x=1;</script></body></html>"),
            (2, "plain  text   only")]
    df = spark.createDataFrame(rows, "doc_id long, raw string").select(
        "doc_id", F.encode("raw", "UTF-8").alias("html"))
    text = html_to_text_sql("decode(html, 'UTF-8')", SPARK)
    out = {r.doc_id: r.text
           for r in df.selectExpr("doc_id", f"{text} as text").collect()}
    assert out[1] == "Title Hello & goodbye"
    assert out[2] == "plain text only"

"""bm25_topk against a plain-Python BM25, on the inputs that break scorers:
repeated or quoted query terms, terms no document holds, empty texts,
empty corpora, non-bigint ids — plus its budget of Spark jobs and the
guarantee that it leaves nothing persisted, on success or failure."""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from incremental_etl_on_lakehouse_spark.operators.text import bm25_topk
from incremental_etl_on_lakehouse_spark.tables import load_table

DOCS = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

CORPUS = [
    (1, "alpha beta beta gamma"),
    (2, "alpha alpha alpha"),
    (3, "it's a\\b  mix of\tit's o'k\\d tokens"),
    (4, ""),
    (5, "   "),
    (6, None),
    (7, "gamma delta"),
    (8, "beta alpha"),
    (9, "a\\b o'k\\d"),
    (None, "alpha beta"),
]


def py_bm25(docs, terms, k, k1=1.2, b=0.75):
    """(id, score_micro, rank) of the top ``k`` documents: Spark's token
    rule (split on Java ``\\s`` runs, drop empty tokens), BM25 with each
    per-term contribution rounded HALF_UP to micro-units before the
    per-document sum, ties ranked by ascending id. A document with a NULL
    id counts towards N and df but is never ranked."""
    qs = set(terms)
    tfs = []
    for i, text in docs:
        toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
        if toks:
            tfs.append((i, len(toks), {t: toks.count(t) for t in qs if t in toks}))
    if not tfs:
        return []
    n, avgdl = len(tfs), sum(dl for _, dl, _ in tfs) / len(tfs)
    dfreq = {t: sum(1 for _, _, tf in tfs if t in tf) for t in qs}
    scores = []
    for i, dl, tf in tfs:
        if i is None or not tf:
            continue
        s = 0
        for t, c in tf.items():
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            x = idf * (c * (k1 + 1.0)) / (c + k1 * ((1.0 - b) + b * dl / avgdl))
            s += int(Decimal(x * 1e6).quantize(Decimal(1), ROUND_HALF_UP))
        scores.append((i, s))
    scores.sort(key=lambda r: (-r[1], r[0]))
    return [(i, s, r + 1) for r, (i, s) in enumerate(scores[:k])]


def rows(df):
    return [tuple(r) for r in df.collect()]


def persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(CORPUS, DOCS)


@pytest.mark.parametrize(
    "terms",
    [
        ["alpha", "beta", "gamma"],
        ["it's", "a\\b", "o'k\\d"],
        ["delta"],
    ],
)
def test_matches_python_bm25(spark, corpus, terms):
    out = rows(bm25_topk(corpus, terms, k=10))
    assert out and out == py_bm25(CORPUS, terms, 10)


def test_fixture_corpus_matches_python_bm25(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    local = [(r["doc_id"], r["text"]) for r in docs.collect()]
    terms = ["merge", "stream", "vector"]
    assert rows(bm25_topk(docs, terms, k=10)) == py_bm25(local, terms, 10)


def test_duplicate_query_terms_count_once(spark, corpus):
    once = rows(bm25_topk(corpus, ["alpha", "beta"], k=10))
    assert once == py_bm25(CORPUS, ["alpha", "beta"], 10)
    assert rows(bm25_topk(corpus, ["alpha", "beta", "alpha", "beta"], k=10)) == once


def test_term_in_no_document(spark, corpus):
    assert rows(bm25_topk(corpus, ["zzz"], k=10)) == []
    # an absent term changes no score: N and df of the other terms stand
    assert rows(bm25_topk(corpus, ["zzz", "gamma"], k=10)) == rows(
        bm25_topk(corpus, ["gamma"], k=10)
    )


def test_empty_texts_are_skipped_not_counted(spark):
    """Empty, blank and NULL texts hold no tokens: they count towards
    neither N nor the average length, so adding them changes no score."""
    docs = [(1, "alpha beta"), (2, "beta"), (3, "")]
    base = spark.createDataFrame(docs, DOCS)
    padded = spark.createDataFrame(docs + [(4, "  "), (5, None), (6, "\t")], DOCS)
    out = rows(bm25_topk(padded, ["beta"], k=10))
    assert out == rows(bm25_topk(base, ["beta"], k=10))
    assert out == py_bm25(docs, ["beta"], 10)


def test_k_larger_than_matches(spark, corpus):
    out = rows(bm25_topk(corpus, ["alpha", "beta"], k=50))
    assert sorted(r[0] for r in out) == [1, 2, 8]
    assert out == py_bm25(CORPUS, ["alpha", "beta"], 50)


def test_empty_corpus_keeps_columns_and_types(spark):
    for df in (
        spark.createDataFrame([], DOCS),
        spark.createDataFrame([(1, ""), (2, None)], DOCS),
    ):
        out = bm25_topk(df, ["alpha"], k=10)
        assert out.collect() == []
        assert [(f.name, f.dataType) for f in out.schema] == [
            ("doc_id", LongType()),
            ("score_micro", LongType()),
            ("rank", IntegerType()),
        ]


def test_string_ids(spark):
    docs = [("d'1", "alpha beta"), ("d\\2", "alpha beta"), ("d3", "beta")]
    schema = StructType(
        [StructField("key", StringType()), StructField("body", StringType())]
    )
    df = spark.createDataFrame(docs, schema)
    out = bm25_topk(df, ["alpha", "beta"], text_col="body", id_col="key", k=10)
    assert [(f.name, f.dataType) for f in out.schema] == [
        ("key", StringType()),
        ("score_micro", LongType()),
        ("rank", IntegerType()),
    ]
    assert rows(out) == py_bm25(docs, ["alpha", "beta"], 10)
    # the tie on score breaks by ascending id
    assert [r[0] for r in rows(out)] == ["d'1", "d\\2", "d3"]


def test_job_budget_and_nothing_persisted(spark, sf_dir):
    """Over the documents fixture the whole search — the search and reading
    its result — runs at most 2 Spark jobs: the scalar aggregate that
    materializes the per-document frame and the top-k. The exploded
    (doc, term) pipeline it replaced ran 12; any join, window or
    per-document groupBy coming back adds jobs here. The per-document
    frame is released before the call returns."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    before = persisted(spark)
    sc = spark.sparkContext
    sc.setJobGroup("bm25-job-budget", "bm25 job budget")
    try:
        out = bm25_topk(docs, ["merge", "stream", "vector"], k=10).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("bm25-job-budget") or [])
    assert len(out) == 10
    assert jobs <= 2, f"bm25_topk ran {jobs} Spark jobs"
    assert persisted(spark) == before


def test_nothing_persisted_when_scan_raises(spark, corpus):
    before = persisted(spark)
    bad = corpus.select(
        "doc_id",
        F.when(F.col("doc_id") == 7, F.raise_error(F.lit("bad row")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    with pytest.raises(Exception, match="bad row"):
        bm25_topk(bad, ["alpha"], k=10)
    assert persisted(spark) == before

"""Retrieval operator tests, including the reference's own pinned case.

The reference's only test (tests/test_simple_rag.py) pins the semantic
quirks: substring-containment scoring, clean_string before matching,
stable-sort tiebreak. We assert the exact expected ranking here.
"""

from __future__ import annotations

import gc
import os
import weakref

from pulsar_project_spark.operators.retrieval import (
    bm25_scores,
    extract_query_keywords,
    simple_rag,
)
from tests.conftest import SF_SMOKE, assert_matches_oracle


def test_reference_pinned_case(spark):
    # Reference fixture: records + query "wo d1", top 3
    # (tests/test_simple_rag.py:5-10). Expected: doc 3 ("word1, wo")
    # scores 2; docs 2/4/5 score 1 ("wo" in "word*"); stable order keeps
    # 2 then 4. NB "word" itself is a stopword in the QUERY tokenizer but
    # records are scored by substring, not tokens.
    records = ["abc", "bca", "word", "word1, wo", "word2", "word3"]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(records)], ["doc_id", "text"]
    )
    out = simple_rag(df, "wo d1", top_k=3).collect()
    assert [(r.doc_id, r.score) for r in out] == [(3, 2), (2, 1), (4, 1)]


def test_keywords_extraction():
    assert extract_query_keywords("wo d1") == ["wo", "d1"]
    # stopwords dropped, punctuation stripped, lowercased
    assert extract_query_keywords("The Word, and a Part!") == []
    assert extract_query_keywords("Fast vector scan, merge windo!") == [
        "fast", "vector", "scan", "merge", "windo",
    ]


def test_flagship_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    rows = out.collect()
    assert len(rows) == 5
    assert {c for c in out.columns} == {"doc_id", "score"}
    # scores sorted desc with doc_id tiebreak
    pairs = [(r.score, r.doc_id) for r in rows]
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))


def test_flagship_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "simple_rag_topk")
    assert_matches_oracle(spark, duck, "keyword_score_scan")


def test_simple_rag_no_shuffle(spark):
    """Scale guard: the flagship plan must be scan → project → global
    top-k (TakeOrderedAndProject), with NO shuffle exchange."""
    from pulsar_project_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    explained = simple_rag(docs, "fast scan")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in explained
    assert "Exchange" not in explained


def test_bm25_matches_textbook_formula(spark):
    """The folded integer rational + quantized idf must equal textbook
    BM25 (k1=1.2, b=0.75) to within the idf quantization error (~5e-7
    relative) — proves the algebra is BM25, not merely self-consistent
    across engines."""
    import math

    corpus = [
        (0, "merge scan merge filter the a window"),
        (1, "scan scan scan scan nothing else here"),
        (2, "window filter window filter window"),
        (3, "totally unrelated words only"),
        (4, "merge"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    terms = ["filter", "merge", "scan", "window"]
    out = {r.doc_id: (r.score, r.n_terms)
           for r in bm25_scores(docs, terms).collect()}

    from pulsar_project_spark.functions.text import COMMON_ENGLISH_WORDS
    tok = {d: [t for t in txt.lower().split() if t not in COMMON_ENGLISH_WORDS]
           for d, txt in corpus}
    N = len(corpus)
    T = sum(len(ts) for ts in tok.values())
    avgdl = T / N
    k1, b = 1.2, 0.75
    df = {t: sum(1 for ts in tok.values() if t in ts) for t in terms}
    expected = {}
    for d, ts in tok.items():
        s, matched = 0.0, 0
        for t in terms:
            tf = ts.count(t)
            if not tf:
                continue
            matched += 1
            idf = math.log((N - df[t] + 0.5) / (df[t] + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if matched:
            expected[d] = (s, matched)
    assert set(out) == set(expected)
    for d, (s, m) in expected.items():
        assert out[d][1] == m
        assert abs(out[d][0] - s) <= 2e-6 * max(1.0, abs(s)), (d, out[d][0], s)


# --- the cleaned corpus cached per loaded table ------------------------------


def _write_docs(path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                             "text": texts}), str(path))


def _rewrite_docs(path, texts):
    """Rewrite in place; the mtime is moved on so the stat key changes."""
    old = os.stat(path).st_mtime_ns
    _write_docs(path, texts)
    os.utime(path, ns=(old + 10**9, old + 10**9))


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _ranking(df, query, k):
    return [(r.doc_id, r.score) for r in simple_rag(df, query, top_k=k).collect()]


def _cached_relation(spark, df):
    """The persisted relation derived from a load_table result."""
    from pulsar_project_spark.sources import tables

    (entry,) = [e for e in tables._PLAN_CACHE[spark].values() if e.jdf is df._jdf]
    ((persisted, _),) = entry.derived.values()
    return persisted


def test_cached_corpus_follows_a_rewritten_table(spark, tmp_path):
    """A rewritten documents.parquet is scored with its new text, and the
    superseded cached relation is unpersisted."""
    from pulsar_project_spark.sources.tables import load_table

    path = tmp_path / "documents.parquet"
    _write_docs(path, ["delta gamma", "gamma", "beta"])
    docs = load_table(spark, str(tmp_path), "documents")
    assert _ranking(docs, "delta gamma", 2) == [(0, 2), (1, 1)]
    old = _cached_relation(spark, docs)
    assert old.storageLevel().useMemory()

    _rewrite_docs(path, ["beta", "delta", "gamma delta"])
    fresh = load_table(spark, str(tmp_path), "documents")
    assert _ranking(fresh, "delta gamma", 2) == [(2, 2), (1, 1)]
    assert _cached_relation(spark, fresh).storageLevel().useMemory()
    assert not old.storageLevel().useMemory()


def test_direct_read_of_a_rewritten_table_is_not_served_from_cache(spark, tmp_path):
    """Spark's CacheManager matches a parquet relation by path alone, so an
    unstamped cached projection would be substituted into a direct read
    of the rewritten file and return the old rows."""
    from pyspark.sql import functions as F

    from pulsar_project_spark.functions.text import clean_string
    from pulsar_project_spark.sources.tables import load_table

    path = tmp_path / "documents.parquet"
    _write_docs(path, ["Old, Text!", "older"])
    _ranking(load_table(spark, str(tmp_path), "documents"), "old", 1)
    _rewrite_docs(path, ["New, Text!", "newer", "third"])
    direct = spark.read.parquet(str(path)).select(
        "doc_id", clean_string(F.col("text")).alias("cleaned"))
    assert sorted(tuple(r) for r in direct.collect()) == [
        (0, "new text"), (1, "newer"), (2, "third")]


def test_uncached_corpora_add_no_storage(spark):
    """Only a load_table result is cached; derived or in-memory corpora are
    cleaned inside the lookup's own plan."""
    from pulsar_project_spark.sources.tables import load_table

    n = _persisted(spark)
    mem = spark.createDataFrame([(0, "fast scan"), (1, "slow")], "doc_id long, text string")
    assert _ranking(mem, "fast scan", 1) == [(0, 2)]
    _ranking(load_table(spark, SF_SMOKE, "documents").limit(32), "fast scan", 3)
    assert _persisted(spark) == n


def test_dropped_session_releases_its_cache(spark):
    """A collected session leaves no plan-cache entry and no persisted
    relation behind: entries must not pin their session."""
    from pulsar_project_spark.sources import tables
    from pulsar_project_spark.sources.tables import load_table

    n, sessions = _persisted(spark), len(tables._PLAN_CACHE)
    s2 = spark.newSession()
    _ranking(load_table(s2, SF_SMOKE, "documents"), "fast scan", 3)
    assert len(tables._PLAN_CACHE) == sessions + 1
    assert _persisted(spark) == n + 1
    alive = weakref.ref(s2)
    del s2
    # pyspark's RDD.toDF closure holds the newest session it constructed;
    # one more session moves it off s2
    spark.newSession()
    gc.collect()
    assert alive() is None
    assert len(tables._PLAN_CACHE) == sessions
    assert _persisted(spark) == n

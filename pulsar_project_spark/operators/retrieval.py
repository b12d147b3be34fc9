"""Keyword-overlap retrieval — the reference's core query capability.

Re-expresses ``simple_rag`` (reference ``utils.py:326-330``) and its parts
(``get_keywords`` :291-316, ``count_words_in_string`` :254-259,
``get_top_k_records`` :318-324) as one declarative DataFrame plan:

    clean(query) → keywords                          (driver-side constant)
    clean(corpus.text)                               (once per loaded table)
    score = |{kw : kw substring-of cleaned}|         (higher-order filter)
    top-k by (score desc, doc_id asc)                (TakeOrderedAndProject)

Semantics kept faithful on purpose:

* scoring is SUBSTRING containment, not token match — keyword "wo"
  scores against "word" (utils.py:254-259; pinned by the reference's own
  test, tests/test_simple_rag.py);
* ties resolve by original record order — Python's stable sort — which is
  the ``doc_id asc`` tiebreak here (utils.py:322; SURVEY.md §7.2).

Cleaning the corpus does not depend on the query, so for a table that
``load_table`` returned the cleaned ``(id, cleaned)`` relation is built
once per session and kept in memory (``tables.cached_derivation``); each
lookup scans that relation and computes only the query's keyword
counts. Any other corpus (a filtered or limited table, an in-memory
frame) is cleaned inside the lookup's own plan, as before.

Scale shape: the scan is embarrassingly parallel (no shuffle — score is a
per-row projection over InMemoryTableScan, or over the parquet scan for
an uncached corpus); the global top-k is Spark's TakeOrderedAndProject,
i.e. a per-partition heap of k followed by a k·partitions merge on the
driver — no full sort, no full shuffle, holds at any corpus size for
small k. Keywords ride along as a literal array (a broadcast of a
handful of strings).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_project_spark.functions.text import (
    COMMON_ENGLISH_WORDS,
    clean_string,
)
from pulsar_project_spark.sources.tables import cached_derivation


def extract_query_keywords(query: str) -> list[str]:
    """Driver-side constant-folding of the reference's query pipeline:
    clean_string → tokenize → stopword drop (utils.py:326-329). The query
    is a scalar, so this runs once, not per row — the per-row work stays
    JVM-side."""
    cleaned = re.sub(r"[^\w\s]", "", query.lower())
    return [t for t in cleaned.split() if t and t not in COMMON_ENGLISH_WORDS]


def keyword_score(cleaned_col: str, kws: list[str]) -> Column:
    """Substring-containment score (utils.py:254-259): number of keywords
    contained in the already-cleaned text column ``cleaned_col``. One SQL
    expression parsed in the JVM, so no Python lambda is traced per
    call; codegen'd built-ins only."""
    if not kws:
        return F.lit(0)
    # extract_query_keywords leaves only \w characters, so a keyword can
    # never close the string literal it is inlined into
    if not all(re.fullmatch(r"\w+", k) for k in kws):
        raise ValueError(f"keywords must be \\w-only: {kws!r}")
    arr = ", ".join(f"'{k}'" for k in kws)
    return F.expr(f"size(filter(array({arr}), kw -> contains(`{cleaned_col}`, kw)))")


def score_corpus(corpus: DataFrame, query: str,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Full scored relation: every row with its keyword-overlap score."""
    kws = extract_query_keywords(query)
    cleaned = cached_derivation(
        corpus, f"cleaned:{id_col}:{text_col}",
        lambda df: df.select(F.col(id_col),
                             clean_string(F.col(text_col)).alias("cleaned")))
    return cleaned.select(F.col(id_col), keyword_score("cleaned", kws).alias("score"))


def simple_rag(corpus: DataFrame, query: str, top_k: int = 5,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Flagship: top-k records by keyword-overlap (utils.py:326-330).

    top_k default 5 = the reference's function default (utils.py:326).
    Returns (doc_id, score) ordered (score desc, doc_id asc) — the stable
    tiebreak REQUIRED for parity with Python's list.sort (utils.py:322).

    Plan shape over a ``load_table`` corpus: InMemoryTableScan (the
    cached cleaned corpus) → Project (score) → TakeOrderedAndProject.
    """
    scored = score_corpus(corpus, query, id_col=id_col, text_col=text_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def bm25_scores(corpus: DataFrame, terms: list[str],
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 relevance of every document against a fixed term set —
    beyond-reference retrieval upgrade of the keyword-overlap scorer
    (same corpus surface as utils.py:254-259/326-330, real ranking
    function instead of substring counts).

    Determinism across engines (the DuckDB oracle hashes values, and
    ``ln`` differs by 1 ulp between libm and the JVM on ~8% of inputs —
    measured): with k1=6/5 and b=3/4 the tf-normalization folds to the
    exact integer rational

        44*tf*T / (20*tf*T + 6*T + 18*dl*N)

    (T = corpus token count, N = corpus doc count, dl = doc token
    count), and the only transcendental — idf = ln(2(N+1)/(2df+1)) — is
    quantized ONCE PER TERM to integer micros before entering any
    per-row arithmetic. Every remaining op is IEEE-exact on identical
    inputs, and the per-document score adds the (at most) one
    contribution per term in a fixed term order, never a variable-order
    SUM over doubles.

    Scale shape: the token explode is map-side; ``tf`` filters to the
    query terms BEFORE its shuffle so only matching tokens move; ``df``
    and the corpus constants are tiny one-row/four-row aggregates that
    ride along as broadcasts; the dl join is the only doc-keyed shuffle
    pair. No collect, no all-pairs.

    Output: (doc_id, score double, n_terms long) for every doc matching
    at least one term.
    """
    from pulsar_project_spark.functions.text import keywords

    terms = sorted(terms)
    toks = corpus.select(F.col(id_col), F.explode(keywords(text_col)).alias("token"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    # corpus scalars (N docs, T tokens) ride along as a 1-row broadcast
    # crossJoin — the one shape where BroadcastNestedLoopJoin is exactly
    # right (build side is a single row); allow-listed in the plan audit
    consts = corpus.agg(F.count("*").alias("n_docs")).crossJoin(
        toks.agg(F.count("*").alias("t_tokens"))
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct(id_col).alias("df_t"))
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "idf_u",
            F.round(
                F.log(
                    (2 * (F.col("n_docs") + 1)).cast("double")
                    / (2 * F.col("df_t") + 1).cast("double")
                )
                * F.lit(1000000.0),
                0,
            ).cast("long"),
        )
        .select("token", "idf_u")
    )
    contrib = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "c",
            (F.col("idf_u").cast("double") / F.lit(1000000.0))
            * (
                (44 * F.col("tf") * F.col("t_tokens")).cast("double")
                / (
                    20 * F.col("tf") * F.col("t_tokens")
                    + 6 * F.col("t_tokens")
                    + 18 * F.col("dl") * F.col("n_docs")
                ).cast("double")
            ),
        )
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("token") == t, F.col("c"))), F.lit(0.0))
        for t in terms
    ]
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p
    return contrib.groupBy(id_col).agg(
        score.alias("score"), F.count("*").alias("n_terms")
    )

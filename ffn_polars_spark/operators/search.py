"""Corpus search primitives: token inverted index and conjunctive keyword
search.

Beyond the reference's surface (/root/reference/ffn_polars has no text or
search layer): the retrieval shapes a corpus-curation pipeline needs —
"which documents contain these terms?" for targeted audits, contamination
spot-checks, and boolean pre-filters ahead of expensive semantic passes.

Design notes (100 TB):

* The inverted index is one distinct + one groupBy, both keyed by token —
  vocabulary-sized output, map-side partial aggregation, AQE-splittable
  hot tokens. Posting lists are sorted in-row (``sort_array``), never via
  a global sort.
* Search never touches the inverted index at all: it joins the exploded
  (doc, token) pairs against a BROADCAST literal frame of query tokens and
  counts matches per doc — the corpus-sized side is filtered by the join
  before any shuffle, so the aggregate's input is |matching postings|,
  not the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.operators.text import tokens
from ffn_polars_spark.pins import pin
from ffn_polars_spark.registry import register


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct (doc, token) pairs — token presence, not counts. The spread
    guard keeps the tokenize off a single core on under-parallelized scans
    (see operators/_scanmeta.spread_scan)."""
    from ffn_polars_spark.operators._scanmeta import spread_scan

    df = spread_scan(df, id_col)
    return (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .where(F.col("token") != "")
        .distinct()
    )


@register(namespace="eod", kind="df", context="dataframe", alias="inverted_index")
def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 1,
) -> DataFrame:
    """Token → posting-list inverted index: one row per distinct token with
    its document frequency and the sorted list of containing doc ids.

    Distinct (doc, token) pairs, then a token-keyed ``collect_list`` with
    an in-row ``sort_array`` — the posting list is assembled and ordered
    inside each token's aggregation buffer, so there is no global sort and
    the output is deterministic regardless of partitioning. ``min_docs``
    drops hapax tokens when the index is for co-occurrence work.

    At 100 TB a hot stopword's posting list is corpus-sized — cap or
    stop-list such tokens for a production index (the same df-cap idea as
    ``winnow_overlap_pairs``); this operator keeps every token because the
    oracle pins exact output.

    Returns ``(token, n_docs, doc_ids)``.
    """
    pairs = _doc_tokens(df, text_col, id_col)
    idx = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
    )
    if min_docs > 1:
        idx = idx.where(F.col("n_docs") >= F.lit(int(min_docs)))
    return idx


@register(namespace="eod", kind="df", context="dataframe", alias="keyword_search")
def keyword_search(
    df: DataFrame,
    query: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY query
    token, ranked by total term frequency then doc id.

    The query tokens become a broadcast literal frame; the exploded corpus
    tokens inner-join against it (map-side semi-filter — non-matching
    postings never reach a shuffle), then one per-doc aggregate keeps docs
    whose distinct-match count equals the query length. Ranking uses the
    summed raw term frequency of the query tokens.

    Returns ``(doc_id, n_terms, total_tf)`` for matching docs.
    """
    terms = [t for t in {w.lower() for w in query} if t]
    if not terms:
        raise ValueError("query must contain at least one non-empty token")
    spark = df.sparkSession
    qdf = spark.createDataFrame([(t,) for t in terms], ["token"])
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    matched = toks.join(F.broadcast(qdf), "token")
    agg = matched.groupBy(id_col).agg(
        F.countDistinct("token").alias("n_terms"),
        F.count(F.lit(1)).alias("total_tf"),
    )
    return agg.where(F.col("n_terms") == F.lit(len(terms)))


@register(namespace="eod", kind="df", context="dataframe", alias="bm25_search")
def bm25_search(
    df: DataFrame,
    query: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Disjunctive (OR) BM25-ranked search — the standard probabilistic
    upgrade over [[keyword_search]]'s raw-tf conjunctive filter:
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))``
    with the Lucene idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``.

    Plumbing (100 TB): the exploded corpus tokens are semi-filtered by the
    broadcast query frame BEFORE any shuffle, so per-term tf and df
    aggregates see only matching postings; doc length rides along with
    each posting; the corpus-wide N/avglen scalar is a 1-row broadcast
    from a single-column scan. No stage ever materializes the
    non-matching corpus.

    Round-8 audit fix (hash-identical output): the per-(doc, term) tf
    aggregate is pinned (``pins.pin``) so the df branch reads it instead of
    re-scanning and re-tokenizing the corpus (column pruning rewrites
    the second branch's inner aggregate, so exchange reuse never fires —
    the tfidf_topterms finding). The pinned frame is matching postings
    only, bounded by |query terms| × docs.

    The token array IS deliberately staged before the explode (unlike the
    round-6 Generate-pathology shapes): expressions alongside a generator
    end up in the Project ABOVE it and re-evaluate per exploded OUTPUT
    row, so an inline ``__len`` tokenized per token — measured 27.7 s vs
    1.5 s at sf1. ``size(<staged attribute>)`` per output row is O(1).

    Returns ``(doc_id, score, n_terms)`` for docs matching ≥1 term.
    """
    terms = [t for t in {w.lower() for w in query} if t]
    if not terms:
        raise ValueError("query must contain at least one non-empty token")
    spark = df.sparkSession
    qdf = spark.createDataFrame([(t,) for t in terms], ["token"])

    toks = df.select(
        F.col(id_col),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("__toks"),
    ).select(
        id_col,
        F.size("__toks").cast("double").alias("__len"),
        F.explode("__toks").alias("token"),
    )
    matched = toks.join(F.broadcast(qdf), "token")

    corpus = df.select(
        F.size(F.filter(tokens(F.col(text_col)), lambda t: t != ""))
        .cast("double")
        .alias("__len")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        F.avg("__len").alias("__avglen"),
    )

    tf = pin(
        matched.groupBy(id_col, "token").agg(
            F.count(F.lit(1)).cast("double").alias("__tf"),
            F.first("__len").alias("__len"),
        )
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(corpus))
        .select(
            id_col,
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("__n_docs") - F.col("__df") + F.lit(0.5))
                    / (F.col("__df") + F.lit(0.5))
                )
                * (F.col("__tf") * F.lit(k1 + 1.0))
                / (
                    F.col("__tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("__len") / F.col("__avglen"))
                )
            ).alias("__s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__s").alias("score"), F.count(F.lit(1)).alias("n_terms")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="rrf_fuse")
def rrf_fuse(
    df: DataFrame,
    system_col: str,
    item_col: str,
    rank_col: str,
    by=None,
    k0: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of several rankers' result lists:
    ``score(item) = Σ_systems 1/(k₀ + rank)`` — the standard zero-tuning
    way to merge heterogeneous retrieval signals (lexical [[bm25_search]]
    with embedding ANN, or any mix of rankers whose raw scores aren't
    comparable), keeping items that several systems rank moderately well
    ahead of one system's outlier.

    One hash aggregate on (keys, item) — rank lists are already tiny
    relative to the corpus — then a WindowGroupLimit top-k per key
    (``row_number ≤ k``, ties broken by item so every engine cuts the
    same list). ``n_systems`` says how many rankers voted for the item.
    Returns ``(keys, item, rrf_score, n_systems, fused_rank)``.
    """
    from pyspark.sql.window import Window

    keys = [by] if isinstance(by, str) else list(by or [])
    contrib = F.lit(1.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
    agg = df.groupBy(*keys, F.col(item_col).alias("item")).agg(
        F.sum(contrib).alias("rrf_score"),
        F.countDistinct(system_col).alias("n_systems"),
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(F.col("rrf_score").desc(), F.col("item").asc())
    return (
        agg.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= F.lit(int(top_k)))
    )

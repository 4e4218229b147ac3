"""Inverted-index (BM25) retrieval building blocks.

The index is TWO derived artifacts of one tokenize pass over the
corpus — the postings table ``(c_id, dl, tok, tf)`` and everything
else (document frequencies, corpus stats) recomputed FROM it — so
maintaining the index incrementally reduces to appending each new
delivery's postings (documents are immutable and ids unique; a doc's
postings never change after ingest). ``streaming.sinks.
postings_index_sink`` persists exactly that, and
``tests/test_sinks.py`` pins batch-built ≡ incrementally-built
scores.

Scoring follows the engine's portability discipline: the idf is the
sqrt surrogate (every op IEEE correctly-rounded — ``ln`` is
engine-ulp-dependent), and per-(query, doc) scores sum the matched
terms' contributions as fixed-point nano-unit longs, so the sum is
order-independent and exact (see ``plans.similarity.bm25_topk`` for
the full contract and the DuckDB oracle twin).

Scale: postings/df are token-keyed aggregates — the classic inverted
index, built map-side and shuffled by token once; a deployment
persists the postings ``bucketBy("tok")`` (lakehouse table) so
per-query cost is posting-list sized — the test store keeps a plain
epoch-partitioned layout, same contract. Corpus stats are a broadcast scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BM25_B",
    "BM25_K1",
    "bm25_micro",
    "doc_dl_expr",
    "doc_postings",
    "query_terms",
]

BM25_K1 = 1.2
BM25_B = 0.75


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per indexable doc: ``(c_id, tt)`` with the token/tf
    struct from the single Arrow tokenize pass. Zero-token and
    NULL-text docs are dropped here, so every derived frame
    (postings, per-doc dl) sees the identical document set."""
    from gmall_realtime2021_spark.functions.text_arrow import token_tf_arrow

    return docs.select(
        F.col(id_col).alias("c_id"), token_tf_arrow(F.col(text_col)).alias("tt")
    ).filter(F.col("tt.dl") > 0)


def doc_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cluster_by_tok: bool = True,
) -> DataFrame:
    """``(c_id, dl, tok, tf)`` — one row per (document, distinct
    token): term frequency plus the document's total token length.
    Zero-token and NULL-text docs contribute no rows (they can never
    match a query term). Append-only under ingest: a new delivery's
    postings are disjoint from the existing table by doc id.

    r13 (guide §2.3/§4): ``tf`` is counted INSIDE the tokenize Arrow
    pass (``token_tf_arrow``) — the old form exploded every token
    occurrence and paid a ``groupBy(c_id, dl, tok)`` exchange over
    ~500k rows at sf0.1 to count duplicates; this form explodes one
    pre-counted row per (doc, distinct token) (~116k) and needs no
    counting aggregate at all. ``cluster_by_tok`` then hash-clusters
    the result on ``tok`` — the classic build-the-inverted-index
    shuffle: the token-keyed consumers (df aggregate, score join)
    read it exchange-free, and the one exchange is runtime-reused
    across them (the tokenize kernel is non-deterministic, so without
    a common exchange each consumer would re-tokenize the corpus).
    The streaming sink passes ``cluster_by_tok=False`` — it appends
    micro-batch deliveries to an epoch-partitioned store and has no
    token-keyed consumer in the write path.
    """
    base = _tokenized(docs, id_col, text_col)
    flat = base.select(
        "c_id",
        F.col("tt.dl").alias("dl"),
        F.explode(F.arrays_zip(F.col("tt.toks").alias("tok"), F.col("tt.tfs").alias("tf"))).alias("z"),
    ).select("c_id", "dl", F.col("z.tok").alias("tok"), F.col("z.tf").cast("double").alias("tf"))
    return flat.repartition(F.col("tok")) if cluster_by_tok else flat


def query_terms(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(q_id, tok)`` — each query document's DISTINCT tokens
    (standard BM25 scores each query term once)."""
    from gmall_realtime2021_spark.functions.text_arrow import tokenize_arrow

    base = docs.select(
        F.col(id_col).alias("q_id"), tokenize_arrow(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    return base.select("q_id", F.explode(F.array_distinct("toks")).alias("tok"))


def doc_dl_expr(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(dl,)`` — one row per indexable document with its token
    length, under the same dl>0 gate as :func:`doc_postings`, computed
    entirely with JVM expressions (r14, guide §4.1: the stats leg
    needs only the token COUNT, never the tokens, so the Arrow
    tokenize pass is pure overhead — this was the one remaining
    per-query corpus tokenize in the BM25 plans).

    ``dl`` = Σ over token units of the unit's token count: a
    lowercase-alnum run is one token; a CJK run of L>1 ideographs
    expands to L−1 bigrams; a lone CJK char is itself (the exact
    counting rules of ``functions.text.tokenize``/``py_tokenize``,
    pinned value-identical in tests/test_properties.py). One
    ``regexp_extract_all`` + an O(#units) fold per doc — no token
    arrays materialized, no ArrowEvalPython node. NULL text folds to
    NULL and empty text to 0; both fail the ``dl > 0`` gate exactly as
    the tokenize pass drops them, so the document set is identical
    (pinned against the Arrow token count in tests/test_properties.py)."""
    from gmall_realtime2021_spark.functions.text import CJK_END, CJK_START, TOKEN_UNIT_RE

    units = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_UNIT_RE), 0)
    dl = F.aggregate(
        units,
        F.lit(0).cast("long"),
        lambda acc, u: acc
        + F.when(
            (F.ascii(u) >= F.lit(CJK_START))
            & (F.ascii(u) <= F.lit(CJK_END))
            & (F.length(u) > F.lit(1)),
            (F.length(u) - F.lit(1)).cast("long"),
        ).otherwise(F.lit(1).cast("long")),
    )
    return docs.select(dl.alias("dl")).filter(F.col("dl") > 0)


def bm25_micro(postings: DataFrame, qterms: DataFrame, per_doc_dl: DataFrame | None = None) -> DataFrame:
    """``(q_id, c_id, micro)`` — BM25 scores in fixed-point nano-units,
    computed entirely FROM the postings table: df and corpus stats
    (N, avgdl) are derived aggregates, so an incrementally-maintained
    postings store scores identically to a batch build by
    construction. Query terms broadcast against the token-keyed
    postings; no all-pairs anywhere.

    r13-opt (guide §2.3/§2.4): ``df_ct`` is a ``count(*) over
    (partition by tok)`` window on the tok-clustered postings — the
    clustering the postings already carry — instead of a
    ``groupBy(tok)`` + join-back, whose pruned branch re-expanded the
    whole scan→tokenize subtree (the old plan tokenized the corpus a
    second time just to count document frequencies). Value-identical:
    the unbounded window count over a token's partition IS the
    group count. ``per_doc_dl`` (batch plans: :func:`doc_dl_expr`)
    lets corpus stats skip the explode + distinct as well; when
    absent (stored/incremental postings — no pre-explode frame
    exists) they derive from the postings exactly as before.
    Both forms sum the identical integer dl multiset (< 2^53, exact in
    long and double alike), so scores cannot drift between the batch
    index and the streaming-maintained store.

    ``per_doc_dl`` PRECONDITION (ADVICE r13 low #4): the frame must
    hold exactly one ``dl`` row per document of the SAME corpus the
    postings were built from, under the same ``dl > 0`` gate — a
    mismatched frame (unfiltered docs, another corpus slice) silently
    skews N/avgdl with no runtime error. The shipped producer
    (:func:`doc_dl_expr`) guarantees this by construction from the
    tokenizer's counting rules (property-pinned in
    tests/test_properties.py); custom callers should assert count
    parity against ``postings.select("c_id").distinct()``.
    """
    from pyspark.sql import Window

    if per_doc_dl is None:
        # one (c_id, dl) row per doc → N and avgdl exactly as the
        # batch per-doc frame computes them (same op order)
        per_doc_dl = postings.select("c_id", "dl").distinct().select("dl")
    stats = per_doc_dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    contrib = F.sqrt(
        (F.col("n_docs") - F.col("df_ct") + F.lit(0.5)) / (F.col("df_ct") + F.lit(0.5))
    ) * (
        (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1) - F.lit(BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
    )
    micro = F.floor(contrib * F.lit(1000000000) + F.lit(0.5)).cast("long")
    enriched = postings.withColumn(
        "df_ct", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    return (
        enriched.join(F.broadcast(qterms), "tok")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "c_id", micro.alias("cmicro"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("cmicro").alias("micro"))
    )

"""Text-analysis operators over ``documents`` (SURVEY.md §7 M5 +
the reference's keyword pipeline F1/A3).

- keyword_stats      — tokenizer UDTF → explode → grouped count
                       (``KeywordStatsApp`` re-expression)
- language_id        — stopword-marker n-gram heuristic
- text_quality       — length/punct/stopword-ratio quality score
- token_count        — whitespace + BPE-ish regex token counting
- doc_fingerprint    — whole-document rolling hash
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.functions.text import poly_hash, tokenize
from gmall_realtime2021_spark.plans.oracle_fragments import sql_poly_hash, sql_tokens
from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import fan_out, load

#: Marker stopwords per language for the n-gram/stopword heuristic.
#: Deterministic and tiny by design — the synthetic corpus is
#: English-flavored; real deployments would swap in full lists.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "y", "es", "un"),
}

STOPWORDS = LANG_MARKERS["en"]

#: BPE-ish pre-tokenizer: letter runs, single digits, single symbols.
BPE_RE = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _sql_in_list(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


#: The keyword_stats result contract, shared with ``keyword_stats_sql``.
KEYWORD_STATS_ORACLE = f"""
    SELECT keyword, source, count(*) AS ct
    FROM (SELECT unnest({sql_tokens('text')}) AS keyword, source FROM documents)
    GROUP BY keyword, source
    """


@register(
    "keyword_stats",
    oracle=KEYWORD_STATS_ORACLE,
    covers=("F1", "A3", "R2", "P7"),
)
def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → count per (keyword, source).

    Re-expression of ``KeywordStatsApp.java:49-61``: the
    ``ik_analyze`` UDTF (``KeywordUDTF.java:16-28``) becomes an
    Arrow-batched tokenizer returning ``array<string>`` exploded to
    rows — the LATERAL TABLE correlate. Tokenizer deviation
    documented in ``functions/text.py``; the Arrow form
    (``tokenize_arrow``, value-identical to the expression twin,
    tri-twin pinned in tests) replaces the interpreted-HOF expression
    that cost +72% vs the frozen floor in r03 once CJK bigrams
    landed. ``keyword_stats_sql`` keeps the reference's SQL-UDF
    invocation shape; this plan is the throughput path.
    """
    from gmall_realtime2021_spark.functions.text_arrow import token_tf_arrow

    docs = fan_out(load(spark, sf_dir, "documents"))
    # r13 (guide §2.3): count term frequencies inside the Arrow pass
    # (token_tf_arrow, shared with the inverted-index build) and sum
    # them, instead of exploding every occurrence — the explode and
    # the partial aggregate then handle one row per (doc, DISTINCT
    # token) (~116k at sf0.1) rather than per occurrence (~500k).
    # sum(tf) == count(*) over occurrences by construction.
    t = docs.select(token_tf_arrow(F.col("text")).alias("t"), "source")
    return (
        t.select(F.explode(F.arrays_zip("t.toks", "t.tfs")).alias("z"), "source")
        .groupBy(F.col("z.toks").alias("keyword"), "source")
        .agg(F.sum("z.tfs").alias("ct"))
    )


@register(
    "language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS labeled_lang,
               len(list_filter({sql_tokens('text')}, t -> t IN {_sql_in_list(LANG_MARKERS['en'])})) AS en_ct,
               len(list_filter({sql_tokens('text')}, t -> t IN {_sql_in_list(LANG_MARKERS['de'])})) AS de_ct,
               len(list_filter({sql_tokens('text')}, t -> t IN {_sql_in_list(LANG_MARKERS['es'])})) AS es_ct
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, labeled_lang, en_ct, de_ct, es_ct,
           CASE WHEN en_ct >= de_ct AND en_ct >= es_ct AND en_ct > 0 THEN 'en'
                WHEN de_ct >= es_ct AND de_ct > 0 THEN 'de'
                WHEN es_ct > 0 THEN 'es'
                ELSE 'unknown' END AS predicted_lang
    FROM scored
    """,
    covers=(),
    doc="language-ID via stopword-marker counting",
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count language-marker stopwords per
    doc, argmax with a fixed priority order (en > de > es) so ties
    are deterministic in both engines. All array ops JVM-side.
    """
    # NULL-text docs carry no language signal and are excluded (the
    # oracle's WHERE twin; Spark size(NULL) = -1 vs DuckDB NULL would
    # otherwise diverge)
    docs = fan_out(load(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    toks = tokenize(F.col("text"))

    def marker_ct(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        marker_ct(LANG_MARKERS["en"]).cast("long").alias("en_ct"),
        marker_ct(LANG_MARKERS["de"]).cast("long").alias("de_ct"),
        marker_ct(LANG_MARKERS["es"]).cast("long").alias("es_ct"),
    )
    return scored.select(
        "*",
        F.when((F.col("en_ct") >= F.col("de_ct")) & (F.col("en_ct") >= F.col("es_ct")) & (F.col("en_ct") > 0), "en")
        .when((F.col("de_ct") >= F.col("es_ct")) & (F.col("de_ct") > 0), "de")
        .when(F.col("es_ct") > 0, "es")
        .otherwise("unknown")
        .alias("predicted_lang"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               len(text) AS char_ct,
               len({sql_tokens('text')}) AS token_ct,
               len(list_filter({sql_tokens('text')}, t -> t IN {_sql_in_list(STOPWORDS)})) AS stop_ct,
               len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS punct_ct
        FROM documents
    )
    SELECT doc_id, source, char_ct, token_ct,
           round(CAST(stop_ct AS DOUBLE) / token_ct, 6) AS stopword_ratio,
           round(CAST(punct_ct AS DOUBLE) / char_ct, 6) AS punct_ratio,
           CASE WHEN token_ct >= 10
                 AND CAST(stop_ct AS DOUBLE) / token_ct BETWEEN 0.01 AND 0.6
                 AND CAST(punct_ct AS DOUBLE) / char_ct < 0.2
                THEN 1 ELSE 0 END AS quality_ok
    FROM base WHERE token_ct > 0
    """,
    covers=(),
    doc="heuristic document-quality scoring",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, stopword ratio, punctuation ratio →
    a boolean gate (the C4/Gopher-style rule shape). Ratios are
    double divisions of exact integers — identical in both engines.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("char_ct"),
        F.size(toks).cast("long").alias("token_ct"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("stop_ct"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9\\s]"), 0)).alias("punct_ct"),
    ).filter(F.col("token_ct") > 0)
    stop_ratio = F.col("stop_ct").cast("double") / F.col("token_ct")
    punct_ratio = F.col("punct_ct").cast("double") / F.col("char_ct")
    return base.select(
        "doc_id",
        "source",
        "char_ct",
        "token_ct",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.when((F.col("token_ct") >= 10) & stop_ratio.between(0.01, 0.6) & (punct_ratio < 0.2), 1)
        .otherwise(0)
        .alias("quality_ok"),
    )


@register(
    "token_count",
    oracle=f"""
    SELECT source,
           count(*) AS doc_ct,
           CAST(sum(len({sql_tokens('text')})) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(lower(text), '{BPE_RE}'))) AS BIGINT) AS bpe_tokens,
           round(CAST(sum(len({sql_tokens('text')})) AS DOUBLE) / count(*), 6) AS avg_ws_tokens
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
    covers=(),
    doc="corpus token accounting (whitespace + BPE-ish)",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per source: whitespace-ish tokens and a
    BPE-style pre-tokenization count (letter runs / digits /
    symbols) — the \"how many tokens is this corpus\" primitive.
    """
    # NULL-text docs excluded (oracle twin filters identically)
    docs = fan_out(load(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    ws = F.size(tokenize(F.col("text"))).cast("long")
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), 0)).cast("long")
    return (
        docs.select("source", ws.alias("ws"), bpe.alias("bpe"))
        .groupBy("source")
        .agg(
            F.count("*").alias("doc_ct"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.round(F.sum("ws").cast("double") / F.count("*"), 6).alias("avg_ws_tokens"),
        )
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, {sql_poly_hash('lower(text)')} AS fingerprint
    FROM documents
    """,
    covers=(),
    doc="whole-document rolling-hash fingerprint",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash of the (lowercased) document — the
    exact-dup fingerprint primitive. Direct parity check of the
    portable hash between engines.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    return docs.select("doc_id", poly_hash(F.lower(F.col("text"))).alias("fingerprint"))


@register(
    "corpus_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, source,
               {sql_poly_hash('lower(text)')} % 100 AS bucket
        FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS doc_ct
    FROM assigned
    GROUP BY 1, 2
    """,
    covers=(),
    doc="deterministic content-hash train/val/test split (80/10/10)",
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sharding: split membership is a pure
    function of document *content* (portable rolling hash mod 100 →
    80/10/10), so re-runs, engine swaps, and incremental additions
    never reshuffle previously-assigned docs — the property a
    training pipeline needs from its split step. No RNG, no state;
    at scale it's a map-side expression plus one small aggregate.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    bucket = poly_hash(F.lower(F.col("text"))) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("doc_ct"))
    )


@register(
    "keyword_stats_sql",
    oracle=KEYWORD_STATS_ORACLE,
    covers=("F1", "S4"),
    doc="keyword stats through the SQL surface: registered UDF + LATERAL VIEW",
)
def keyword_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's *SQL* keyword pipeline shape
    (``KeywordStatsApp.java:38,52-54``): a tokenizer UD(T)F
    registered into the SQL catalog and invoked via the lateral
    correlate — here ``spark.udf.register`` + ``LATERAL VIEW
    explode``. The registered UDF is :func:`py_tokenize`, the
    maintained Python twin of the JVM-side ``tokenize`` expression
    (CJK bigrams included), so values are identical to the
    DataFrame-side ``keyword_stats`` plan. That plan is the fast
    path (JVM split/filter); this one pins the SQL API surface a
    reference user would port their Flink SQL to.
    """
    from pyspark.sql.types import ArrayType, StringType

    from gmall_realtime2021_spark.functions.text import py_tokenize

    spark.udf.register(
        "ik_analyze",
        lambda s: py_tokenize(s) if s is not None else [],
        ArrayType(StringType()),
    )
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT keyword, source, count(*) AS ct
        FROM documents
        LATERAL VIEW explode(ik_analyze(text)) t AS keyword
        GROUP BY keyword, source
        """
    )


#: BPE plan hyper-parameters — single source of truth for the Spark
#: plan body AND the generated oracle SQL below (the r06 verdict asked
#: for the cap to live in a named constant, not a literal).
BPE_N_MERGES = 8
BPE_VOCAB_CAP = 2048
BPE_MIN_COUNT = 2

#: Session-config key for the training-vocabulary cap; the constant
#: above is the default (and what the registered oracle is generated
#: against — a deployment that raises the cap gives up the static
#: oracle, not correctness).
BPE_VOCAB_CAP_KEY = "spark.gmall.bpe.vocabCap"


def bpe_vocab_cap(spark: SparkSession) -> int:
    """The effective training-vocabulary cap: session config
    ``spark.gmall.bpe.vocabCap`` if set, else :data:`BPE_VOCAB_CAP`.

    The cap bounds the ONLY driver-side collect in the BPE plan —
    memory is cap × (word + 8 B freq) ≈ cap · ~50 B (≈100 KiB at the
    default 2048; even a 1 M-word cap is ~50 MB, the same budget
    class as a broadcast dim). Must be positive."""
    cap = int(spark.conf.get(BPE_VOCAB_CAP_KEY, str(BPE_VOCAB_CAP)))
    if cap <= 0:
        raise ValueError(f"{BPE_VOCAB_CAP_KEY} must be positive, got {cap}")
    return cap


def _bpe_apply_merge_sql(cs: str, left: str, right: str) -> str:
    """Greedy left-to-right NON-OVERLAPPING single-merge apply over a
    symbol array, as a DuckDB ``list_reduce`` replace-last fold — the
    construction that makes ``bpe_encode_topk`` oracle-expressible
    after all (r06 carried it rows-only on an asserted
    inexpressibility claim).

    Replace-last is equivalent to the two-pointer greedy loop of
    ``operators/bpe._merge_apply``: when the fold sees element ``e``
    with ``acc[-1] == left and e == right`` it replaces ``acc[-1]``
    with ``left||right``; a token merged THIS pass equals
    ``left||right`` which can never equal ``left`` (``right`` is
    non-empty), so a freshly-merged token can't be re-consumed —
    exactly the ``i += 2`` skip. DuckDB 1.0's ``list_reduce`` fixes
    the accumulator to the element type, so elements are wrapped as
    one-item lists to make both sides ``VARCHAR[]`` (the same
    prepend-a-zero trick ``sql_dot`` uses, lifted to lists).
    """
    return (
        f"list_reduce("
        f"list_prepend(CAST([] AS VARCHAR[]), list_transform({cs}, s -> [s])), "
        f"(acc, e) -> CASE WHEN len(acc) > 0 AND acc[-1] = {left} AND e[1] = {right} "
        f"THEN list_append(acc[1:len(acc)-1], {left} || {right}) "
        f"ELSE list_append(acc, e[1]) END)"
    )


def _bpe_encode_oracle() -> str:
    """The full tokenizer-lifecycle oracle: BPE training UNROLLED into
    ``BPE_N_MERGES`` chained CTE steps (pair-count → deterministic
    argmax → greedy apply), then the merge sequence applied to the
    full vocabulary and censused — the exact semantics of
    ``bpe_encode_topk``'s Spark body (train on the top-``BPE_VOCAB_CAP``
    vocabulary, encode everything).

    Early stop matches ``py_bpe_reference``: each ``m{{k}}`` CTE is
    EMPTY when the best pair's count falls below ``BPE_MIN_COUNT``
    (the LEFT JOIN then passes symbols through unchanged), and once
    one step is empty every later step recounts the same table and
    goes empty too — identical to breaking out of the loop.
    """
    ctes = [
        f"tok AS (SELECT unnest({sql_tokens('text')}) AS w FROM documents)",
        "vocab AS (SELECT w, count(*) AS freq FROM tok GROUP BY w)",
        f"capped AS (SELECT w, freq FROM vocab ORDER BY freq DESC, w LIMIT {BPE_VOCAB_CAP})",
        "v0 AS (SELECT freq, regexp_extract_all(w, '(?s).') AS cs FROM capped)",
    ]
    for k in range(1, BPE_N_MERGES + 1):
        ctes.append(
            f"p{k} AS (SELECT cs[i] AS l, cs[i + 1] AS r, sum(freq) AS ct "
            f"FROM v{k - 1}, unnest(generate_series(1, len(cs) - 1)) AS u(i) "
            f"WHERE len(cs) >= 2 GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{k} AS (SELECT l, r FROM p{k} WHERE ct >= {BPE_MIN_COUNT} "
            f"ORDER BY ct DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"v{k} AS (SELECT freq, CASE WHEN m.l IS NULL THEN cs ELSE "
            + _bpe_apply_merge_sql("cs", "m.l", "m.r")
            + f" END AS cs FROM v{k - 1} LEFT JOIN m{k} m ON true)"
        )
    ctes.append("e0 AS (SELECT freq, regexp_extract_all(w, '(?s).') AS cs FROM vocab)")
    for k in range(1, BPE_N_MERGES + 1):
        ctes.append(
            f"e{k} AS (SELECT freq, CASE WHEN m.l IS NULL THEN cs ELSE "
            + _bpe_apply_merge_sql("cs", "m.l", "m.r")
            + f" END AS cs FROM e{k - 1} LEFT JOIN m{k} m ON true)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT token, CAST(sum(freq) AS BIGINT) AS token_ct
    FROM (SELECT freq, unnest(cs) AS token FROM e{BPE_N_MERGES})
    GROUP BY token ORDER BY token_ct DESC, token LIMIT 30
    """
    )


@register(
    "bpe_merge_step",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({sql_tokens('text')}) AS w FROM documents
    ),
    vocab AS (
        SELECT w, count(*) AS freq FROM tok GROUP BY w
    ),
    chars AS (
        SELECT w, freq, regexp_extract_all(w, '(?s).') AS cs FROM vocab
    ),
    pairs AS (
        SELECT freq, cs[i] || cs[i + 1] AS pair
        FROM chars, unnest(generate_series(1, len(cs) - 1)) AS u(i)
        WHERE len(cs) >= 2
    ),
    counted AS (
        SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_ct FROM pairs GROUP BY pair
    ),
    ranked AS (
        SELECT pair, pair_ct,
               row_number() OVER (ORDER BY pair_ct DESC, pair) AS rk
        FROM counted
    )
    SELECT pair, pair_ct, CAST(rk AS BIGINT) AS rank FROM ranked WHERE rk <= 20
    """,
    covers=(),
    doc="one BPE-training merge step: corpus-weighted adjacent-pair counts, top 20",
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of byte-pair-encoding tokenizer training: count
    adjacent symbol pairs across the corpus (weighted by word
    frequency) and surface the merge candidates. Full BPE training is
    this plan in a driver loop — merge the top pair into the symbol
    sequences and recount — the same driver-side iteration shape as
    ``dedup_clusters`` and ``train_pq_codebooks``.

    Scale: pair counting runs on the DISTINCT vocabulary (bounded,
    Zipf-capped), not the corpus — the only corpus-sized stage is the
    word-frequency aggregate, a partial-agg shuffle on the token.
    Ties rank lexicographically, so the merge choice is deterministic
    in both engines.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("freq"))
    cs = F.regexp_extract_all(F.col("w"), F.lit("(?s)."), 0)
    chars = vocab.select("freq", cs.alias("cs")).filter(F.size("cs") >= 2)
    pair = F.explode(
        F.zip_with(
            F.col("cs"),
            F.slice(F.col("cs"), 2, F.size("cs")),
            lambda a, b: F.concat(a, b),
        )
    )
    pairs = chars.select("freq", pair.alias("pair")).filter(F.col("pair").isNotNull())
    counted = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_ct"))
    w = Window.orderBy(F.desc("pair_ct"), F.asc("pair"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("pair", "pair_ct", "rank")
    )


@register(
    "bpe_encode_topk",
    # r07: no longer rows-only — the greedy merge apply IS expressible
    # as a DuckDB list_reduce replace-last fold, and training unrolls
    # into BPE_N_MERGES chained CTEs (see _bpe_encode_oracle)
    oracle=_bpe_encode_oracle(),
    covers=(),
    doc="train BPE merges, encode the corpus, top tokens by corpus frequency",
)
def bpe_encode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer lifecycle as one plan: train a BPE merge
    table on the corpus word-frequency vocabulary, apply it back to
    the corpus, and report the 30 most frequent subword tokens with
    corpus-weighted counts.

    Scale shape: training runs on a Zipf-capped vocabulary (top 2048
    words by frequency — pair counts are frequency-weighted, so the
    tail's contribution to merge choice is negligible and the cap
    bounds the training input by construction). The capped vocabulary
    is a BOUNDED AGGREGATE ARTIFACT — the same driver-side budget as
    a k-means centroid or PQ codebook collect — so the merge table is
    trained driver-side on it (``py_bpe_reference``, pinned EXACTLY
    equal to the distributed ``train_bpe`` loop by
    tests/test_algo_quality.py; use ``train_bpe`` when the training
    vocabulary itself must stay distributed). Encoding is ONE Arrow
    pass over the full distinct vocabulary, and the corpus token
    census needs NO corpus-sized join at all — corpus token counts
    are word frequency × per-word token multiplicity, so the only
    corpus-sized stage is the word-count partial aggregate.
    Determinism: merge ties break lexicographically and the census
    output orders (count desc, token), so both engines see a stable
    frame. The DuckDB twin (``_bpe_encode_oracle``) unrolls the
    training loop and expresses the greedy apply as a replace-last
    ``list_reduce`` fold — value-hash-exact, not rows-only.
    """
    from gmall_realtime2021_spark.operators.bpe import (
        bpe_encode_words,
        py_bpe_reference,
    )
    from gmall_realtime2021_spark.operators.dedup import register_cache

    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
    vocab = register_cache(tok.groupBy("w").agg(F.count("*").alias("freq")))
    capped = vocab.orderBy(F.desc("freq"), F.asc("w")).limit(bpe_vocab_cap(spark)).collect()
    merges = py_bpe_reference(
        {r.w: r.freq for r in capped}, n_merges=BPE_N_MERGES, min_count=BPE_MIN_COUNT
    )
    enc = vocab.select(
        "freq", bpe_encode_words(merges)(F.col("w")).alias("toks")
    )
    return (
        enc.select("freq", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("token_ct"))
        .orderBy(F.desc("token_ct"), F.asc("token"))
        .limit(30)
    )


#: PII patterns — identical semantics in Java regex (Spark) and RE2
#: (DuckDB): no alternation, no backreferences, ASCII word boundary.
#: Deliberately simple canonical forms; a production scrubber layers
#: more patterns through the same plan shape.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{7,15}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "pii_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(coalesce(len(regexp_extract_all(lower(text), '{PII_EMAIL_RE}')), 0) AS BIGINT) AS email_ct,
           CAST(coalesce(len(regexp_extract_all(lower(text), '{PII_PHONE_RE}')), 0) AS BIGINT) AS phone_ct,
           CAST(coalesce(len(regexp_extract_all(lower(text), '{PII_IPV4_RE}')), 0) AS BIGINT) AS ipv4_ct,
           CAST(coalesce(len(regexp_extract_all(lower(text), '{PII_EMAIL_RE}')), 0)
                + coalesce(len(regexp_extract_all(lower(text), '{PII_PHONE_RE}')), 0)
                + coalesce(len(regexp_extract_all(lower(text), '{PII_IPV4_RE}')), 0) AS BIGINT) AS pii_total
    FROM documents
    """,
    covers=(),
    doc="per-document PII hit counts (email / phone / IPv4)",
)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection pass — the compliance gate every training-data
    pipeline runs before release: per-document counts of email,
    international-phone, and IPv4 matches. Redaction is the same scan
    with ``regexp_replace``; counting keeps the plan oracle-exact and
    is what the downstream filter (``pii_total == 0``) needs.

    Scale: three JVM-side regex extractions per row, no shuffle at
    all — the plan is a pure map over the corpus scan, and Catalyst
    prunes the scan to (doc_id, text). Patterns avoid every
    Java-vs-RE2 divergence (alternation order, backreferences), so
    the DuckDB twin is exact.
    """
    # NULL text → zero counts, row KEPT: a doc with no text trivially
    # contains no PII, and the compliance gate (pii_total == 0) must
    # certify every document, not silently skip some (size(NULL) is -1
    # under non-ANSI, hence the explicit guard; oracle coalesces)
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    cnt = lambda pat: F.when(F.col("text").isNull(), F.lit(0)).otherwise(  # noqa: E731
        F.size(F.regexp_extract_all(low, F.lit(pat), 0))
    ).cast("long")
    return docs.select(
        "doc_id",
        cnt(PII_EMAIL_RE).alias("email_ct"),
        cnt(PII_PHONE_RE).alias("phone_ct"),
        cnt(PII_IPV4_RE).alias("ipv4_ct"),
        (cnt(PII_EMAIL_RE) + cnt(PII_PHONE_RE) + cnt(PII_IPV4_RE)).alias("pii_total"),
    )


@register(
    "pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '(?i){PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '(?i){PII_PHONE_RE}', '<PHONE>', 'g'),
               '(?i){PII_IPV4_RE}', '<IP>', 'g') AS clean_text,
           CAST(coalesce(len(regexp_extract_all(text, '(?i){PII_EMAIL_RE}')), 0)
                + coalesce(len(regexp_extract_all(regexp_replace(text,
                      '(?i){PII_EMAIL_RE}', '<EMAIL>', 'g'), '(?i){PII_PHONE_RE}')), 0)
                + coalesce(len(regexp_extract_all(regexp_replace(regexp_replace(text,
                      '(?i){PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '(?i){PII_PHONE_RE}', '<PHONE>', 'g'), '(?i){PII_IPV4_RE}')), 0)
             AS BIGINT) AS redaction_ct
    FROM documents
    """,
    covers=(),
    doc="PII redaction: typed placeholders substituted in-place, per-doc counts",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action half of the compliance pass: :func:`pii_scan` counts
    hits, this plan rewrites them — email → ``<EMAIL>``, phone →
    ``<PHONE>``, IPv4 → ``<IP>`` — preserving the surrounding text
    byte-for-byte (case-insensitive match via inline ``(?i)``, which
    Java regex and RE2 read identically, so the oracle is exact).
    Replacement order is fixed (email, phone, ip) and the placeholders
    contain no digits or ``@``, so the chained rewrites can't feed
    each other. ``redaction_ct`` is the number of placeholders
    ACTUALLY inserted: each pattern is counted on the text as it
    stands *after* the previous rewrites, so an email whose local part
    is phone-shaped (``+12345678901@relay.example.com``) counts once,
    not twice — the count reconciles exactly against ``clean_text``.

    Scale: three JVM-side regexp_replace ops per row — a pure map over
    the pruned (doc_id, text) scan, no shuffle, codegen throughout.
    """
    # NULL text → clean_text NULL, zero redactions, row KEPT: this is
    # a per-doc rewrite whose output replaces the corpus, so dropping
    # NULL-text rows would silently shrink it (guard needed because
    # size(NULL) is -1 under non-ANSI; oracle coalesces identically)
    docs = load(spark, sf_dir, "documents")
    cnt = lambda c, pat: F.when(F.col("text").isNull(), F.lit(0)).otherwise(  # noqa: E731
        F.size(F.regexp_extract_all(c, F.lit("(?i)" + pat), F.lit(0)))
    ).cast("long")
    stage, cts = F.col("text"), []
    for pat, ph in (
        (PII_EMAIL_RE, "<EMAIL>"),
        (PII_PHONE_RE, "<PHONE>"),
        (PII_IPV4_RE, "<IP>"),
    ):
        cts.append(cnt(stage, pat))
        stage = F.regexp_replace(stage, "(?i)" + pat, ph)
    return docs.select(
        "doc_id",
        stage.alias("clean_text"),
        (cts[0] + cts[1] + cts[2]).alias("redaction_ct"),
    )

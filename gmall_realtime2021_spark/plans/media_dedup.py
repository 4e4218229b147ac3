"""Media near-dup contracts shared by the image, audio and video
families (SURVEY.md §7 M5 multimodal): near-duplicate pairs,
near-dup clusters and the incremental best-match probe, each as one
Spark builder and one DuckDB oracle renderer.

``plans/images.py``, ``plans/audio.py`` and ``plans/video.py``
register the plans; each describes its modality with one
:class:`MediaSpec` (fingerprint kernel, oracle fingerprint CTE,
perturbed-twin rows, incoming split) and hands it to the builders
and renderers here.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.multimodal import synthesize_media
from gmall_realtime2021_spark.operators.dedup import (
    duplicate_clusters,
    hamming_band_pairs,
    hamming_band_probe,
    register_cache,
)
from gmall_realtime2021_spark.tables import fan_out, load

#: Hamming budget for "same media, small edit": 8 byte-bands over a
#: 64-bit fingerprint guarantee 100% recall up to hamming 7
#: (pigeonhole); 6 keeps one band of slack and matches common dHash
#: practice.
MEDIA_MAX_HAMMING = 6

#: Id offset for the injected perturbed twins — divisible by 3 so
#: ``synthesize_media``'s kind cycle keeps a twin the kind of its
#: source, and far above any fixture doc_id.
TWIN_OFFSET = 9_999_999

#: A twin overwrites the character at this 1-based position.
_TWIN_AT = 37


@dataclass(frozen=True)
class MediaSpec:
    """What one media family plugs into the shared near-dup plans."""

    #: fingerprint kernel over ``synthesize_media`` rows
    kernel: Callable[[DataFrame], DataFrame]
    #: the kernel's 64-bit fingerprint column
    fp_col: str
    #: DuckDB CTE chain from a ``(media_id, <kernel input>)`` SELECT to
    #: the relation ``fp_rel`` holding ``(media_id, <fp_col>)``
    fp_cte: Callable[[str], str]
    fp_rel: str
    #: DuckDB SELECT of this kind's fixture rows (the fingerprint
    #: plan's domain)
    base_sql: str
    #: twins come from docs with ``doc_id % 60 == twin_residue`` (the
    #: kind's residue mod 3) and at least ``twin_min_len`` characters
    twin_residue: int
    twin_min_len: int
    #: the twin's kernel-input SELECT item; ``{}`` is the edited text
    twin_select: str
    #: incoming/index split on media_id: the SQL predicates (after
    #: ``media_id``) and the Spark incoming predicate
    incoming_sql: str
    index_sql: str
    incoming: Callable[[Column], Column]


def twin_rows(spec: MediaSpec, docs: DataFrame | None = None):
    """The transformed-copy probe of the pairs domain: one perturbed
    twin per 20th doc of the kind (``doc_id % 60 == twin_residue``),
    id ``doc_id + TWIN_OFFSET``, with one mid-text character
    overwritten by ``~``. The fixture corpus has no near-duplicate
    media of its own, so every fixture run demonstrates the recall
    the plans exist for, in both engines, the way
    ``dedup_incremental`` carries its deterministic batch split.

    A twin has the SAME length as its original, so the kernel samples
    the same positions and the edit lands in one grid cell, envelope
    window or frame slice (texts of at least ``twin_min_len``
    characters): hamming <= 2 by construction for image and audio;
    for video the majority fold keeps a multi-frame twin within the
    budget.

    With ``docs`` (``doc_id, text``) it returns the Spark rows in the
    same shape; without, the DuckDB SELECT of ``(media_id, <kernel
    input>)``."""
    if docs is None:
        edited = f"substr(text, 1, {_TWIN_AT - 1}) || '~' || substr(text, {_TWIN_AT + 1})"
        return f"""SELECT doc_id + {TWIN_OFFSET} AS media_id,
               {spec.twin_select.format(edited)}
        FROM documents
        WHERE doc_id % 60 = {spec.twin_residue} AND text IS NOT NULL AND length(text) >= {spec.twin_min_len}"""
    return docs.filter(
        (F.col("doc_id") % 60 == spec.twin_residue)
        & F.col("text").isNotNull()
        & (F.length("text") >= spec.twin_min_len)
    ).select(
        (F.col("doc_id") + TWIN_OFFSET).alias("doc_id"),
        F.overlay("text", F.lit("~"), F.lit(_TWIN_AT), F.lit(1)).alias("text"),
    )


def _fingerprints(spark: SparkSession, sf_dir: str, spec: MediaSpec) -> DataFrame:
    """``(media_id, <fp_col>)`` over the kind's rows plus their twins,
    persisted via ``register_cache``: every consumer reads it on
    several plan sides, and the cache keeps the hashing pass over
    payloads to ONE run at execution."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    media = synthesize_media(fan_out(docs.unionByName(twin_rows(spec, docs))))
    return register_cache(spec.kernel(media).select("media_id", spec.fp_col))


def _pairs(fp: DataFrame, spec: MediaSpec) -> DataFrame:
    return hamming_band_pairs(
        fp, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col=spec.fp_col, bits=64
    )


def near_dup_pairs(spark: SparkSession, sf_dir: str, spec: MediaSpec) -> DataFrame:
    """Near-duplicate media pairs ``(a, b, hamming)`` at
    :data:`MEDIA_MAX_HAMMING`: the fingerprints through the shared
    pigeonhole byte-band join (``operators/dedup.hamming_band_pairs``
    — the exact machinery of ``dedup_simhash_pairs``, at 64 bits).
    The domain is the kind's rows plus their :func:`twin_rows`.

    Scale: the candidate join runs at DISTINCT-FINGERPRINT grain
    (bounded by hash cardinality, never media count); payload bytes
    are gone after the one linear hashing pass. The fingerprint frame
    is persisted because the pairing reads it on three plan sides.
    """
    return _pairs(_fingerprints(spark, sf_dir, spec), spec)


def near_dup_clusters(spark: SparkSession, sf_dir: str, spec: MediaSpec) -> DataFrame:
    """The media analog of ``dedup_clusters`` — near-dup pairs folded
    into an actionable verdict: every fingerprinted item of the
    :func:`near_dup_pairs` domain (twins included — each twin
    clusters with its original by construction) gets ``cluster_id`` =
    the minimum media id reachable through Hamming-band near-dup
    edges (its own id when unique), so keep-one-per-cluster is
    ``media_id == cluster_id``. Same star-contraction engine as the
    text family (``operators/dedup.duplicate_clusters``).

    Scale: pairing is fingerprint-grain (see :func:`near_dup_pairs`);
    clustering adds O(log n) label-table rounds over edges that are
    near-dup-pair sized, exactly the text-side cost model.
    """
    fp = _fingerprints(spark, sf_dir, spec)
    return duplicate_clusters(
        fp.select("media_id"), _pairs(fp, spec).select("a", "b"), id_col="media_id"
    )


def near_dup_incremental(spark: SparkSession, sf_dir: str, spec: MediaSpec) -> DataFrame:
    """Daily-delivery dedup for media — the media analog of
    ``dedup_incremental``. Items matching ``spec.incoming`` play the
    incoming batch, which by construction holds every twin
    (``TWIN_OFFSET % 10 = 9``) while its original sits in the rest,
    the standing fingerprint index (maintained append-only at rest,
    the ``streaming/sinks.phash_index_sink`` story — fingerprints are
    pure per-row functions of immutable payloads). One row per
    incoming item: ``is_dup``, qualifying ``match_ct``, and the best
    match (min hamming, ties to the smallest index id; −1 sentinels
    when none).

    Scale: the probe is the two-sided pigeonhole band join
    (``operators/dedup.hamming_band_probe``) at distinct-fingerprint
    grain — the incoming side is delivery-sized, the index side never
    re-pairs against itself, and only candidate ids cross the
    exchanges.
    """
    fp = _fingerprints(spark, sf_dir, spec)
    inc = fp.filter(spec.incoming(F.col("media_id")))
    ex = fp.filter(~spec.incoming(F.col("media_id")))
    matched = hamming_band_probe(
        ex, inc, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col=spec.fp_col, bits=64
    )
    w = Window.partitionBy("inc").orderBy(F.asc("hamming"), F.asc("ex"))
    best = (
        matched.withColumn("rn", F.row_number().over(w))
        .withColumn("match_ct", F.count("*").over(Window.partitionBy("inc")))
        .filter(F.col("rn") == 1)
        .select(
            "inc",
            "match_ct",
            F.col("ex").alias("best_match_id"),
            F.col("hamming").alias("best_hamming"),
        )
    )
    return (
        inc.select(F.col("media_id").alias("inc"))
        .join(best, "inc", "left")
        .select(
            F.col("inc").alias("media_id"),
            F.when(F.col("match_ct").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("is_dup"),
            F.coalesce("match_ct", F.lit(0).cast("long")).alias("match_ct"),
            F.coalesce("best_match_id", F.lit(-1).cast("long")).alias("best_match_id"),
            F.coalesce("best_hamming", F.lit(-1).cast("long")).alias("best_hamming"),
        )
    )


def _domain_sql(spec: MediaSpec) -> str:
    return f"""{spec.base_sql}
        UNION ALL
        {twin_rows(spec)}"""


def _bands_sql(rel: str) -> str:
    """CTE body: the 8 byte-band keys of each fingerprint ``f`` of
    ``rel``."""
    return f"""
        SELECT f, CAST(j AS VARCHAR) || ':' || CAST((f >> (8 * j)) & 255 AS VARCHAR) AS band
        FROM {rel}, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS u(j)
    """


def _band_pairs_sql(spec: MediaSpec, cols: str) -> str:
    """``uniqf``/``buck``/``fpp`` CTEs: the distinct fingerprint
    pairs within budget, ``fpp`` projecting ``cols``."""
    return f"""
    uniqf AS (SELECT DISTINCT {spec.fp_col} AS f FROM {spec.fp_rel}),
    buck AS ({_bands_sql("uniqf")}),
    fpp AS (
        SELECT {cols} FROM (
            SELECT DISTINCT x.f AS fa, y.f AS fb,
                   CAST(bit_count(xor(x.f, y.f)) AS BIGINT) AS hamming
            FROM buck x JOIN buck y USING (band)
            WHERE x.f < y.f
        ) WHERE hamming <= {MEDIA_MAX_HAMMING}
    )"""


def pairs_oracle(spec: MediaSpec) -> str:
    """DuckDB twin of :func:`near_dup_pairs`: the same band pairing at
    fingerprint grain, expanded to media ids (equal fingerprints pair
    at hamming 0)."""
    f, r = spec.fp_col, spec.fp_rel
    return f"""
    WITH {spec.fp_cte(_domain_sql(spec))},{_band_pairs_sql(spec, "fa, fb, hamming")},
    intra AS (
        SELECT x.media_id AS a, y.media_id AS b, CAST(0 AS BIGINT) AS hamming
        FROM {r} x JOIN {r} y ON x.{f} = y.{f} AND x.media_id < y.media_id
    ),
    crossfp AS (
        SELECT least(ia.media_id, ib.media_id) AS a,
               greatest(ia.media_id, ib.media_id) AS b,
               fpp.hamming
        FROM fpp
        JOIN {r} ia ON ia.{f} = fpp.fa
        JOIN {r} ib ON ib.{f} = fpp.fb
    )
    SELECT a, b, hamming FROM intra
    UNION ALL
    SELECT a, b, hamming FROM crossfp
    """


def clusters_oracle(spec: MediaSpec) -> str:
    """DuckDB twin of :func:`near_dup_clusters`: the pairs oracle as
    the edge source, wrapped in the same recursive-CTE transitive
    closure ``dedup_clusters`` uses — both engines cluster exactly the
    pairs they agreed on."""
    f, r = spec.fp_col, spec.fp_rel
    return f"""
    WITH RECURSIVE {spec.fp_cte(_domain_sql(spec))},{_band_pairs_sql(spec, "fa, fb")},
    pairs AS (
        SELECT x.media_id AS a, y.media_id AS b
        FROM {r} x JOIN {r} y ON x.{f} = y.{f} AND x.media_id < y.media_id
        UNION ALL
        SELECT least(ia.media_id, ib.media_id) AS a,
               greatest(ia.media_id, ib.media_id) AS b
        FROM fpp
        JOIN {r} ia ON ia.{f} = fpp.fa
        JOIN {r} ib ON ib.{f} = fpp.fb
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS media_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT f.media_id, CAST(coalesce(c.cluster_id, f.media_id) AS BIGINT) AS cluster_id
    FROM {r} f LEFT JOIN comp c ON c.media_id = f.media_id
    """


def incremental_oracle(spec: MediaSpec) -> str:
    """DuckDB twin of :func:`near_dup_incremental`: the two-sided band
    probe, ranked per incoming item, left-joined back with −1
    sentinels."""
    f, r = spec.fp_col, spec.fp_rel
    return f"""
    WITH {spec.fp_cte(_domain_sql(spec))},
    inc AS (SELECT media_id, {f} FROM {r} WHERE media_id {spec.incoming_sql}),
    ex AS (SELECT media_id, {f} FROM {r} WHERE media_id {spec.index_sql}),
    bi AS ({_bands_sql(f"(SELECT DISTINCT {f} AS f FROM inc)")}),
    be AS ({_bands_sql(f"(SELECT DISTINCT {f} AS f FROM ex)")}),
    fpp AS (
        SELECT fq, fe, hamming FROM (
            SELECT DISTINCT x.f AS fq, y.f AS fe,
                   CAST(bit_count(xor(x.f, y.f)) AS BIGINT) AS hamming
            FROM bi x JOIN be y USING (band)
        ) WHERE hamming <= {MEDIA_MAX_HAMMING}
    ),
    matched AS (
        SELECT i.media_id AS inc_id, e.media_id AS ex_id, fpp.hamming
        FROM fpp
        JOIN inc i ON i.{f} = fpp.fq
        JOIN ex e ON e.{f} = fpp.fe
    ),
    ranked AS (
        SELECT inc_id, ex_id, hamming,
               row_number() OVER (PARTITION BY inc_id ORDER BY hamming, ex_id) AS rn,
               count(*) OVER (PARTITION BY inc_id) AS match_ct
        FROM matched
    ),
    best AS (
        SELECT inc_id, match_ct, ex_id AS best_match_id, hamming AS best_hamming
        FROM ranked WHERE rn = 1
    )
    SELECT i.media_id,
           CASE WHEN b.inc_id IS NULL THEN 0 ELSE 1 END AS is_dup,
           coalesce(b.match_ct, 0) AS match_ct,
           coalesce(b.best_match_id, -1) AS best_match_id,
           coalesce(b.best_hamming, -1) AS best_hamming
    FROM inc i LEFT JOIN best b ON b.inc_id = i.media_id
    """

"""Video fingerprint near-dup plans (SURVEY.md §7 M5 multimodal) —
the video sibling of ``plans/images.py`` / ``plans/audio.py``,
completing the media dedup story: sampled-frame envelope hashes
(``multimodal/video.py``) majority-folded into one 64-bit fingerprint
per video, paired through the shared pigeonhole byte-band Hamming
join. Reference analog: the same media payload rows the DWD layer
routes (``BaseLogApp.java:235-247``). The pairs, cluster and
incremental plans are the shared ``plans/media_dedup.py`` contracts
over the :data:`VIDEO` spec.

Oracle story: the fixture's video payloads are UTF-8 stand-ins and
the fake frame sampler slices BYTES at integer offsets
(``multimodal_frames`` already value-hash-proves that geometry), so
the whole chain — UTF-8 byte array from code points (RFC 3629
layout), frame slices, window means, adjacent-compare pack, majority
fold — is integer arithmetic DuckDB reproduces exactly. All four plans
are value-hash oracle plans; frame-level recall on constructed
multi-frame payloads is pinned in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_realtime2021_spark.multimodal import synthesize_media
from gmall_realtime2021_spark.multimodal.afp import AFP_WINDOWS
from gmall_realtime2021_spark.multimodal.video import (
    VIDEO_FRAME_BYTES,
    video_fingerprints,
)
from gmall_realtime2021_spark.plans.audio import _afp_pack_sql, _win_mean_sql
from gmall_realtime2021_spark.plans.media_dedup import (
    MediaSpec,
    clusters_oracle,
    incremental_oracle,
    near_dup_clusters,
    near_dup_incremental,
    near_dup_pairs,
    pairs_oracle,
)
from gmall_realtime2021_spark.plans.registry import register
from gmall_realtime2021_spark.tables import fan_out, load

#: UTF-8 byte LIST of one character from its code point (the list
#: sibling of ``plans/multimodal._UTF8_SB``'s byte sum) — flattening
#: it over the text's characters reproduces ``encode(text)`` so frame
#: BYTE slices are SQL-derivable.
_UTF8_BYTE_LIST = (
    "CASE WHEN ascii(c) < 128 THEN [ascii(c)] "
    "WHEN ascii(c) < 2048 THEN [192 + ascii(c) // 64, 128 + ascii(c) % 64] "
    "WHEN ascii(c) < 65536 THEN [224 + ascii(c) // 4096, 128 + (ascii(c) // 64) % 64, 128 + ascii(c) % 64] "
    "ELSE [240 + ascii(c) // 262144, 128 + (ascii(c) // 4096) % 64, 128 + (ascii(c) // 64) % 64, 128 + ascii(c) % 64] END"
)


def _majority_pack_sql() -> str:
    """Majority-bit fold over grouped frame hashes ``fh``: bit k of
    the video fingerprint is set iff a STRICT majority of frames set
    bit k. Bit extraction is ``fh & mask`` on signed BIGINT masks
    (bit 63 = the two's-complement minimum), identical to the Spark
    side's ``F.col("fh").bitwiseAND(mask)``."""
    terms = []
    for k in range(64):
        mask = "(-9223372036854775807 - 1)" if k == 63 else str(1 << k)
        weight = mask
        terms.append(
            f"(CASE WHEN 2 * sum(CASE WHEN (fh & CAST({mask} AS BIGINT)) <> 0 "
            f"THEN 1 ELSE 0 END) > count(*) THEN CAST({weight} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def _video_fp_cte(vid_cte: str) -> str:
    """CTE chain: ``vid`` rows (media_id, text) → UTF-8 byte array +
    frame count → 64-byte frame slices at proportional byte offsets
    (the exact ``frame_sample`` geometry the ``multimodal_frames``
    oracle proves) → per-frame envelope-hash (the audio family's
    window-mean/pack SQL over frame bytes) → majority fold ``vfp``
    (media_id, vhash, n_frames)."""
    wins = ", ".join(_win_mean_sql(i) for i in range(AFP_WINDOWS))
    return f"""
    vid AS (
        {vid_cte}
    ),
    varr AS (
        SELECT media_id,
               greatest(1, (length(text) * 10) // 1000) AS nf,
               flatten(list_transform(regexp_extract_all(text, '(?s).'),
                                      c -> {_UTF8_BYTE_LIST})) AS arr
        FROM vid
    ),
    vframes AS (
        SELECT media_id,
               arr[(i * len(arr)) // nf + 1 :
                   least((i * len(arr)) // nf + {VIDEO_FRAME_BYTES}, len(arr))] AS env
        FROM varr, unnest(generate_series(0, nf - 1)) AS u(i)
    ),
    wenv AS (
        SELECT media_id, [{wins}] AS w
        FROM (SELECT media_id, env, len(env) AS n FROM vframes WHERE len(env) > 0)
    ),
    ffp AS (
        SELECT media_id, {_afp_pack_sql()} AS fh FROM wenv
    ),
    vfp AS (
        SELECT media_id, {_majority_pack_sql()} AS vhash,
               count(*) AS n_frames
        FROM ffp GROUP BY media_id
    )
"""


#: Video-kind fixture rows (doc_id%3=2 under synthesize_media's kind
#: cycle).
_VID_BASE = """SELECT doc_id AS media_id, text
        FROM documents
        WHERE doc_id % 3 = 2 AND text IS NOT NULL AND length(text) > 0"""

@register(
    "video_fingerprint",
    oracle=f"""
    WITH {_video_fp_cte(_VID_BASE)}
    SELECT media_id, vhash, n_frames FROM vfp
    """,
    covers=(),
    doc="64-bit majority-fold fingerprint over sampled-frame envelope hashes per video",
)
def video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video fingerprints over the synthetic media table: frame
    sampling (1 frame/s, 64-byte fake slices) → per-frame byte
    envelope hash → JVM-side majority-bit fold. The DuckDB twin
    reproduces the full chain from code-point arithmetic, so this is
    a value-hash oracle plan; frame-perturbation recall on
    constructed multi-frame payloads is pinned in
    tests/test_multimodal.py.

    Scale: payload bytes die inside the one linear Arrow pass
    (scan-partition-local sampling + hashing); the only shuffle is
    the media-grain majority fold over 12-byte rows; pairing reads
    the 8-byte fingerprint column alone.
    """
    media = synthesize_media(fan_out(load(spark, sf_dir, "documents")))
    return video_fingerprints(media)


#: The near-dup plans' video family: the majority-fold fingerprint.
#: A twin's single-character edit is length-preserving, so frame
#: geometry is identical and only the frames covering that byte
#: change. Incoming side: ``media_id % 10 <= 1`` — twin sources have
#: doc_id % 10 = 2, so every twin lands at % 10 = 1 while its
#: original sits in the index.
VIDEO = MediaSpec(
    kernel=video_fingerprints,
    fp_col="vhash",
    fp_cte=_video_fp_cte,
    fp_rel="vfp",
    base_sql=_VID_BASE,
    twin_residue=2,
    twin_min_len=AFP_WINDOWS,
    twin_select="{} AS text",
    incoming_sql="% 10 <= 1",
    index_sql="% 10 > 1",
    incoming=lambda m: m % 10 <= 1,
)


@register(
    "video_fingerprint_pairs",
    oracle=pairs_oracle(VIDEO),
    covers=(),
    doc="near-duplicate video pairs: majority-fold frame fingerprints + pigeonhole byte-band Hamming join",
)
def video_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO pairs at the Hamming budget
    (``media_dedup.near_dup_pairs`` over majority-fold fingerprints) —
    a re-muxed copy with a single corrupted frame or small overlay
    lands within budget (the majority fold absorbs per-frame damage);
    unrelated videos stay far."""
    return near_dup_pairs(spark, sf_dir, VIDEO)


@register(
    "video_dedup_clusters",
    oracle=clusters_oracle(VIDEO),
    covers=(),
    doc="video near-dup clusters: connected components over majority-fold fingerprint Hamming pairs",
)
def video_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video analog of ``image_dedup_clusters``
    (``media_dedup.near_dup_clusters``): one ``cluster_id`` per
    fingerprinted video over the ``video_fingerprint_pairs`` domain."""
    return near_dup_clusters(spark, sf_dir, VIDEO)


@register(
    "video_dedup_incremental",
    oracle=incremental_oracle(VIDEO),
    covers=(),
    doc="incremental-ingest video dedup: incoming batch probed against the standing fingerprint index",
)
def video_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video analog of ``image_dedup_incremental``
    (``media_dedup.near_dup_incremental``): videos with
    ``media_id % 10 <= 1`` are the incoming batch, the rest the
    standing fingerprint index."""
    return near_dup_incremental(spark, sf_dir, VIDEO)

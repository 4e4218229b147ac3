"""Audio fingerprint near-dup plans (SURVEY.md §7 M5 multimodal) —
the audio sibling of ``plans/images.py``: a 64-bit envelope dHash per
audio payload (``multimodal/afp.py``), paired through the shared
pigeonhole byte-band Hamming join
(``operators/dedup.hamming_band_pairs``). Reference analog: the same
media payload rows the DWD layer routes (``BaseLogApp.java:235-247``).
The pairs, cluster and incremental plans are the shared
``plans/media_dedup.py`` contracts over the :data:`AUDIO` spec.

Oracle story mirrors the image family: the parquet fixture's payloads
are UTF-8 stand-ins, so every fixture row hashes through the
deterministic FAKE path (code-point envelope) — fully
DuckDB-expressible, making all four plans value-hash oracle plans — while
the REAL path (actual PCM WAVs through the same kernel) is pinned by
transformed-copy recall tests in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_realtime2021_spark.multimodal import synthesize_media
from gmall_realtime2021_spark.multimodal.afp import AFP_WINDOWS, audio_afp
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


def _win_mean_sql(i: int) -> str:
    """Integer mean of envelope window ``i`` (columns ``env``/``n``
    in scope): DuckDB 1-based-inclusive slice of the 0-based window
    [a, b) with b floored at a+1 — the exact bounds of
    ``afp.py_afp_envelope_hash``."""
    a = f"(({i} * n) // {AFP_WINDOWS})"
    b = f"greatest({a} + 1, (({i + 1} * n) // {AFP_WINDOWS}))"
    return f"(list_aggregate(env[{a} + 1 : {b}], 'sum') // ({b} - {a}))"


def _afp_pack_sql() -> str:
    """Adjacent window comparisons ``w[i+1] > w[i]`` packed into a
    signed BIGINT (bit 63 folds in as the two's-complement minimum —
    the same trick as ``plans/images._dhash_pack_sql``). Expects the
    window list ``w`` (1-based) in scope."""
    terms = []
    for i in range(AFP_WINDOWS - 1):
        weight = "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
        terms.append(
            f"(CASE WHEN w[{i + 2}] > w[{i + 1}] THEN CAST({weight} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def _afp_fp_cte(aud_cte: str) -> str:
    """Fingerprint CTE chain: ``aud`` rows (media_id, env code-point
    list) → window means → packed fingerprint."""
    wins = ", ".join(_win_mean_sql(i) for i in range(AFP_WINDOWS))
    return f"""
    aud AS (
        {aud_cte}
    ),
    wenv AS (
        SELECT media_id, [{wins}] AS w
        FROM (SELECT media_id, env, len(env) AS n FROM aud WHERE len(env) > 0)
    ),
    fp AS (
        SELECT media_id, {_afp_pack_sql()} AS afp FROM wenv
    )
"""


#: Audio-kind fixture rows (doc_id%3=1 under synthesize_media's kind
#: cycle), code-point envelope.
_AUD_BASE = """SELECT doc_id AS media_id,
               list_transform(regexp_extract_all(text, '(?s).'), c -> ascii(c)) AS env
        FROM documents
        WHERE doc_id % 3 = 1 AND text IS NOT NULL"""

@register(
    "audio_fingerprint",
    oracle=f"""
    WITH {_afp_fp_cte(_AUD_BASE)}
    SELECT media_id, afp, 'fake' AS decoder FROM fp
    """,
    covers=(),
    doc="64-bit envelope dHash per audio payload (real PCM-WAV path + deterministic fake path)",
)
def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-audio fingerprints over the synthetic media table. On the
    fixture every payload takes the deterministic fake path (UTF-8
    stand-ins are not WAVs), so the oracle reproduces the hash
    exactly; feed real PCM WAVs through the same plan and the kernel
    hashes true per-frame |amplitude| window means
    (tests/test_multimodal.py pins that path on constructed audio).

    Scale: metadata kind-filter pushed to the scan, one linear Arrow
    pass, payload bytes never cross an exchange.
    """
    media = synthesize_media(fan_out(load(spark, sf_dir, "documents")))
    return audio_afp(media)


#: The near-dup plans' audio family: the code-point envelope hash. A
#: twin's single-character edit lands in exactly one envelope window
#: (texts of at least AFP_WINDOWS characters). Incoming side:
#: ``media_id % 10 = 0`` — twin sources have doc_id % 10 = 1, so
#: every twin lands at % 10 = 0 while its original sits in the index.
AUDIO = MediaSpec(
    kernel=audio_afp,
    fp_col="afp",
    fp_cte=_afp_fp_cte,
    fp_rel="fp",
    base_sql=_AUD_BASE,
    twin_residue=1,
    twin_min_len=AFP_WINDOWS,
    twin_select="list_transform(regexp_extract_all({}, '(?s).'), c -> ascii(c)) AS env",
    incoming_sql="% 10 = 0",
    index_sql="% 10 <> 0",
    incoming=lambda m: m % 10 == 0,
)


@register(
    "audio_fingerprint_pairs",
    oracle=pairs_oracle(AUDIO),
    covers=(),
    doc="near-duplicate audio pairs: envelope dHash + pigeonhole byte-band Hamming join",
)
def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs at the Hamming budget
    (``media_dedup.near_dup_pairs`` over envelope hashes) — a
    re-encoded, gain-normalized, or slightly edited copy of a clip
    lands within budget; unrelated clips don't (pinned on real WAVs
    in tests/test_multimodal.py)."""
    return near_dup_pairs(spark, sf_dir, AUDIO)


@register(
    "audio_dedup_clusters",
    oracle=clusters_oracle(AUDIO),
    covers=(),
    doc="audio near-dup clusters: connected components over envelope-hash Hamming pairs",
)
def audio_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio analog of ``image_dedup_clusters``
    (``media_dedup.near_dup_clusters``): one ``cluster_id`` per
    fingerprinted clip over the ``audio_fingerprint_pairs`` domain."""
    return near_dup_clusters(spark, sf_dir, AUDIO)


@register(
    "audio_dedup_incremental",
    oracle=incremental_oracle(AUDIO),
    covers=(),
    doc="incremental-ingest audio dedup: incoming batch probed against the standing fingerprint index",
)
def audio_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio analog of ``image_dedup_incremental``
    (``media_dedup.near_dup_incremental``): clips with
    ``media_id % 10 == 0`` are the incoming batch, the rest the
    standing envelope-hash index."""
    return near_dup_incremental(spark, sf_dir, AUDIO)

"""Image perceptual-hash near-dup plans (SURVEY.md §7 M5 multimodal).

The image analog of the text dedup family over the synthetic media
table (reference analog: the display/media payloads the DWD layer
routes per row, ``BaseLogApp.java:235-247``): a 64-bit dHash per
image (``multimodal/phash.py``), then the SAME pigeonhole byte-band
pairing the SimHash family uses (``operators/dedup.hamming_band_pairs``)
— near-duplicate images pair with 100% recall at the Hamming budget,
no all-pairs join anywhere. The pairs, cluster and incremental plans
are the shared ``plans/media_dedup.py`` contracts over the
:data:`IMAGE` spec.

Oracle story: the parquet fixture's payloads are UTF-8 stand-ins, so
every fixture row hashes through the deterministic FAKE path — which
was designed to be DuckDB-expressible (code-point grid over the
text). All four plans here are therefore full value-hash oracle plans,
while the REAL path (actual baseline PNGs through the same kernel)
is pinned by transformed-copy recall tests in
tests/test_multimodal.py — same split as the PNG decode itself
(executable real path + oracle-checked plumbing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_realtime2021_spark.multimodal import synthesize_media
from gmall_realtime2021_spark.multimodal.phash import (
    DHASH_COLS,
    DHASH_ROWS,
    image_dhash,
)
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


def _dhash_pack_sql() -> str:
    """DuckDB twin of ``phash.py_dhash_gray_grid``'s packing: compare
    horizontally-adjacent cells of the (1-based) 72-cell grid list
    ``g``, pack row-major into a signed BIGINT. Bit 63 folds in as
    the two's-complement minimum so the SQL value equals the
    kernel's signed packing exactly."""
    terms = []
    for i in range(DHASH_ROWS * (DHASH_COLS - 1)):
        r, c = divmod(i, DHASH_COLS - 1)
        hi, lo = r * DHASH_COLS + c + 2, r * DHASH_COLS + c + 1
        weight = "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
        terms.append(
            f"(CASE WHEN g[{hi}] > g[{lo}] THEN CAST({weight} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


_CELLS = DHASH_ROWS * DHASH_COLS


def _fp_cte(img_cte: str) -> str:
    """Hash CTE chain shared by the image plans: the given ``img`` CTE
    (rows of ``media_id, cs`` char lists) through the code-point grid
    (``phash.py_dhash_fake``) and the shared bit packing."""
    return f"""
    img AS (
        {img_cte}
    ),
    grid AS (
        SELECT media_id,
               list_transform(generate_series(0, {_CELLS - 1}),
                              i -> ascii(cs[(i * len(cs)) // {_CELLS} + 1])) AS g
        FROM img WHERE len(cs) > 0
    ),
    fp AS (
        SELECT media_id, {_dhash_pack_sql()} AS dhash FROM grid
    )
"""


#: Image-kind fixture rows (doc_id%3=0, mirroring synthesize_media's
#: kind cycle), non-empty text.
_IMG_BASE = """SELECT doc_id AS media_id, regexp_extract_all(text, '(?s).') AS cs
        FROM documents
        WHERE doc_id % 3 = 0 AND text IS NOT NULL"""


@register(
    "image_phash",
    oracle=f"""
    WITH {_fp_cte(_IMG_BASE)}
    SELECT media_id, dhash, 'fake' AS decoder FROM fp
    """,
    covers=(),
    doc="64-bit perceptual dHash per image (real PNG path + deterministic fake path)",
)
def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image dHash fingerprints over the synthetic media table.
    On the fixture every payload takes the deterministic fake path
    (UTF-8 stand-ins are not PNGs), so the oracle reproduces the hash
    exactly; feed real PNGs through the same plan and the kernel
    hashes true pixel block means (tests/test_multimodal.py pins
    that path on constructed images).

    Scale: metadata kind-filter pushed to the scan, one linear Arrow
    pass, payload bytes never cross an exchange — the output is an
    8-byte column per image.
    """
    media = synthesize_media(fan_out(load(spark, sf_dir, "documents")))
    return image_dhash(media)


#: The near-dup plans' image family: dHash over the code-point grid.
#: A twin's single-character edit moves at most one of the 72 grid
#: cells (texts of at least 72 characters). Incoming side:
#: ``media_id % 10 >= 8`` — twin sources have doc_id % 10 = 0, so
#: every twin lands at % 10 = 9 while its original sits in the index.
IMAGE = MediaSpec(
    kernel=image_dhash,
    fp_col="dhash",
    fp_cte=_fp_cte,
    fp_rel="fp",
    base_sql=_IMG_BASE,
    twin_residue=0,
    twin_min_len=_CELLS,
    twin_select="regexp_extract_all({}, '(?s).') AS cs",
    incoming_sql="% 10 >= 8",
    index_sql="% 10 < 8",
    incoming=lambda m: m % 10 >= 8,
)


@register(
    "image_phash_pairs",
    oracle=pairs_oracle(IMAGE),
    covers=(),
    doc="near-duplicate image pairs: dHash + pigeonhole byte-band Hamming join",
)
def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs at the Hamming budget
    (``media_dedup.near_dup_pairs`` over dHash fingerprints). A
    re-encoded, slightly edited, or noise-perturbed copy of an image
    lands within the budget; unrelated images don't (recall and
    separation pinned on real PNGs in tests/test_multimodal.py)."""
    return near_dup_pairs(spark, sf_dir, IMAGE)


@register(
    "image_dedup_clusters",
    oracle=clusters_oracle(IMAGE),
    covers=(),
    doc="image near-dup clusters: connected components over dHash Hamming pairs",
)
def image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image analog of ``dedup_clusters``
    (``media_dedup.near_dup_clusters``): one ``cluster_id`` per hashed
    image over the ``image_phash_pairs`` domain."""
    return near_dup_clusters(spark, sf_dir, IMAGE)


@register(
    "image_dedup_incremental",
    oracle=incremental_oracle(IMAGE),
    covers=(),
    doc="incremental-ingest image dedup: incoming batch probed against the standing fingerprint index",
)
def image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image analog of ``dedup_incremental``
    (``media_dedup.near_dup_incremental``): images with
    ``media_id % 10 >= 8`` are the incoming batch, the rest the
    standing index that ``streaming/sinks.phash_index_sink`` maintains
    at rest."""
    return near_dup_incremental(spark, sf_dir, IMAGE)

"""Deduplication operators for large-scale corpus curation
(SURVEY.md §7 M5 — first-class alongside the reference's operators).

Joins/aggregations are JVM-side; per-document hashing is
Arrow-batched Python (``functions.text_arrow`` — one linear pass per
doc, see that module for why it beats the expression form). Nothing
collects to the driver. Scale shapes:

- exact:   one hash aggregate on the text (or fingerprint) column.
- n-gram Jaccard: inverted-index self-join on shared shingle
  *hashes* (8-byte join keys, not strings), with a stop-shingle
  guard (``SHINGLE_DF_CAP``) that drops shingles shared by more
  than 64 documents before the join — posting lists are ≤ cap long
  by construction, so cost is ≤ cap·Σct (linear), not Σct².
- MinHash+LSH: signature = k portable hashes over the shingle-hash
  array; band buckets turn the O(n²) pair space into per-bucket
  joins — the standard 100 TB-scale near-dup design.
- SimHash: map-side-only fingerprint (no shuffle) — 32 fold
  expressions per doc over the token-hash array.

Hashing discipline: characters are hashed once per token; shingle
hashes combine token hashes arithmetically, so the per-doc cost is
O(chars + shingles), not O(chars × n). Hash values are identical
across the Spark expression form, the Arrow UDFs, and the DuckDB
oracle (portable polynomial hash — ``functions/text.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.functions.text import POLY_MOD, minhash_coeffs
from gmall_realtime2021_spark.functions.text_arrow import (
    shingle_hash_set_arrow,
    shingle_hashes_arrow,
    shingles_and_minhash_arrow,
    simhash_arrow,
    simhash_wide_arrow,
)
from gmall_realtime2021_spark.tables import fan_out

__all__ = [
    "MINHASH_K",
    "MINHASH_BANDS",
    "exact_dedup_summary",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_band_candidates",
    "minhash_lsh_pairs",
    "minhash_star_edges",
    "hamming_fp_edges",
    "simhash_fingerprints",
    "simhash_near_dup_pairs",
    "hamming_band_candidates",
    "hamming_band_pairs",
    "hamming_band_probe",
    "duplicate_clusters",
    "duplicate_span_stats",
    "duplicate_span_topk",
    "incremental_near_dup",
    "span_scrub_stats",
    "register_cache",
    "release_caches",
]

#: Span length (tokens) for substring-level dedup — long enough that a
#: shared span means real copying, short enough to catch partial reuse.
SPAN_N = 8

MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_COEFFS = minhash_coeffs(MINHASH_K)

#: DataFrames persisted by operators whose RESULT is lazy (the cache
#: must outlive the function call — see ``minhash_lsh_pairs``). A
#: long-lived session that builds dedup plans repeatedly should call
#: :func:`release_caches` between materializations; one-shot jobs can
#: ignore it (executor exit frees the blocks).
_LIVE_CACHES: list[DataFrame] = []

#: at most one live SimHash fingerprint cache (see simhash_near_dup_pairs)
_SIMHASH_FP_CACHE: list[DataFrame] = []


def release_caches() -> int:
    """Unpersist every cache an operator in this module left alive and
    return how many were released. Safe to call at any time; caches
    are rebuilt on the next plan build."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def register_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it with this
    module's release registry — the catalog-wide idiom for a frame
    that multiple plan branches read (sweeps/benches call
    :func:`release_caches` between plans). Returns the persisted
    frame."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(df)
    return df


def exact_dedup_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup accounting: total vs distinct payloads.

    At scale, group on a fingerprint (doc_fingerprint plan) instead
    of the full text so shuffle rows stay small.
    """
    # NULL-safe: countDistinct skips NULLs, so dup_docs must subtract
    # from count(text) (non-null payloads), not count(*) — otherwise k
    # NULL-text rows inflate dup_docs by k
    return docs.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct(text_col).alias("distinct_texts"),
        (F.count(text_col) - F.countDistinct(text_col)).alias("dup_docs"),
    )


def _shingle_hash_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, distinct shingle-hash array), short docs dropped.

    Arrow-batched hashing (``functions.text_arrow``): one O(chars)
    Python pass per doc after a round-robin rebalance. The size
    filter sits *above* the UDF, so it cannot be pushed below the
    Exchange and collapse the hashing onto the scan's single task
    (which is what happened to the pure-expression form).
    """
    return (
        fan_out(docs.select(id_col, text_col))
        .select(id_col, shingle_hash_set_arrow(F.col(text_col), n).alias("sh"))
        .filter(F.size("sh") > 0)
    )


#: Stop-shingle guard: a shingle appearing in more than this many
#: documents is boilerplate (license headers, navigation chrome,
#: templated text) and is dropped from the inverted index BEFORE the
#: pair join. This bounds the index self-join's cost at
#: Σ min(ct, CAP)·ct ≤ CAP·Σct — linear in corpus size by
#: construction — where the unguarded form's Σct² is quadratic in the
#: hottest shingle's document frequency. Mirrored literally in the
#: DuckDB oracles (plans/dedup.SHINGLE_DF_CAP) so parity is exact.
#: Semantics: overlap metrics are computed over the KEPT shingle
#: universe (na/nb shrink too) — docs sharing only boilerplate don't
#: pair, which is the behavior a curation pipeline wants (exact dedup
#: upstream catches verbatim copies).
SHINGLE_DF_CAP = 64


def _shingle_pair_counts(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(a, b, na, nb, inter) — the shared inverted-index pair table
    both set-overlap metrics project from (Jaccard and containment
    differ only in their final expression). The shingle hash is the
    ONLY shuffle key; ``inter`` is |A∩B| exactly because per-doc
    shingles are distinct.

    Stop-shingle guard (``SHINGLE_DF_CAP``): one census pass finds
    shingles with document frequency > cap; the (tiny, Zipf-tailed)
    hot list is folded into ONE broadcast array row and removed from
    every doc's set map-side via ``array_except`` — no extra shuffle
    on the data path, and posting lists entering the self-join are
    ≤ cap long by construction. The shingle-set frame is persisted
    (registered with :func:`release_caches`) because the census and
    the pair join both read it — one Arrow hashing pass, not two.
    If a corpus ever produced a hot list too large to broadcast
    (pathological: |hot| ≤ occurrences/cap), flip the removal to a
    shuffle anti-join on the shingle key — one-line change.
    """
    from pyspark import StorageLevel

    sets = (
        _shingle_hash_sets(docs, id_col, text_col, n)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _LIVE_CACHES.append(sets)
    hot = (
        sets.select(F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") > SHINGLE_DF_CAP)
        .agg(F.collect_list("shingle").alias("hot"))
    )
    kept = (
        sets.crossJoin(F.broadcast(hot))
        .select(F.col(id_col).alias("id"), F.array_except("sh", "hot").alias("sh"))
        .filter(F.size("sh") > 0)
    )
    sized = kept.select("id", F.size("sh").alias("n_sh"), "sh")
    inv = sized.select("id", "n_sh", F.explode("sh").alias("shingle"))
    a = inv.select(F.col("id").alias("a"), F.col("n_sh").alias("na"), "shingle")
    b = inv.select(F.col("id").alias("b"), F.col("n_sh").alias("nb"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold (over shingle
    hashes — exact up to hash collisions, deterministic in both
    engines).

    Inverted-index design: explode distinct shingle hashes,
    self-join on the hash (the only shuffle key), count shared
    shingles per pair — that count *is* |A∩B| because per-doc
    shingles are distinct — then |A∪B| = |A|+|B|−|A∩B|.
    """
    pairs = _shingle_pair_counts(docs, id_col, text_col, n)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature(sh_hashes: Column) -> list[Column]:
    """k minhash values of a shingle-hash array (portable: the (a,b)
    constants are inlined literals in Spark and oracle SQL alike).

    This expression form is the semantic spec;
    ``text_arrow.shingles_and_minhash_arrow`` computes the identical
    values in the Arrow pass the hot path uses."""
    return [
        F.array_min(F.transform(sh_hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(POLY_MOD))).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def _signature_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh, mh) — the persisted MinHash signature table. ONE
    recipe shared by the self-join index (:func:`minhash_lsh_pairs`)
    and the incremental probe (:func:`incremental_near_dup`): those
    two must stay in lockstep (same shingles, same coefficients) or
    incremental dedup silently diverges from the batch pass. Persisted
    MEMORY_AND_DISK and registered for :func:`release_caches` — every
    caller references it on multiple plan sides.
    """
    from pyspark import StorageLevel

    sm = (
        fan_out(df.select(id_col, text_col))
        .select(
            id_col,
            shingles_and_minhash_arrow(F.col(text_col), n, MINHASH_COEFFS).alias("sm"),
        )
        .select(F.col(id_col).alias("id"), F.col("sm.sh").alias("sh"), F.col("sm.mh").alias("mh"))
        .filter(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _LIVE_CACHES.append(sm)
    return sm


def minhash_band_candidates(sm: DataFrame) -> DataFrame:
    """Banded-LSH candidate ID pairs (pre-verification) from a
    signature table — the stage whose growth the 100 TB claim rests
    on, factored out so :func:`minhash_lsh_pairs` and the scale
    probe's stage decomposition (``tools/scale_probe.py --dedup``)
    measure the IDENTICAL plan."""
    buckets = sm.select("id", F.explode(_band_keys("mh")).alias("band_key"))
    return (
        buckets.select(F.col("id").alias("a"), "band_key")
        .join(buckets.select(F.col("id").alias("b"), "band_key"), "band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact-Jaccard
    verification of candidates only.

    shingle hashes → k=16 portable minhashes → 4 bands of 4 rows;
    docs agreeing on any whole band meet in a bucket join. With s =
    Jaccard, P(candidate) = 1-(1-s^4)^4 — steep around s≈0.5. The
    band key is the join key, so the pair space never materializes
    beyond real collisions.

    Shuffle discipline (the 100 TB shape, same as the embedding
    near-dup path): the band-bucket join carries IDS ONLY — shingle
    sets never enter the candidate shuffle. The signature table is
    persisted (the in-session analog of materializing signatures at
    rest, which is what a production dedup pass does anyway; the
    cache is registered for :func:`release_caches` — callers in
    long-lived sessions own the release), the
    candidate pair set is tiny (real collisions only) so Catalyst
    broadcasts it, and the exact-Jaccard verify joins then stream the
    shingle arrays map-side — the arrays cross no exchange at all.
    """
    # The returned plan references sm on three sides (buckets + both
    # verify joins); _signature_table persists it and the caller (or a
    # long-lived session) releases it via release_caches().
    sm = _signature_table(docs, id_col, text_col, n)
    cand = minhash_band_candidates(sm)
    sha = sm.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    shb = sm.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(sha, "a")
        .join(shb, "b")
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_star_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Verified STAR edges from the banded-LSH buckets: every doc in a
    band bucket links to the bucket's MINIMUM id (its representative)
    and only those (doc, rep) edges are exact-Jaccard verified — K−1
    edges per K-doc bucket where :func:`minhash_lsh_pairs` expands
    K(K−1)/2 pairs. This is the bounded-output audit form for
    copy-heavy corpora (VERDICT r11 item #7): on a corpus whose
    duplicates are K-fold replicas the pair form's OUTPUT contract is
    itself quadratic in K, while the star form stays linear at every
    stage (buckets → per-bucket min → K−1 edges → per-edge verify).

    Approximation contract (documented, the standard star-clustering
    trade): connectivity is only tested THROUGH the representative, so
    two docs whose pairwise Jaccard clears the threshold while neither
    clears it against the bucket rep land in separate clusters —
    acceptable for duplicate ACCOUNTING (cluster counts/sizes), not a
    replacement for the verified pair graph when per-pair evidence is
    the product. On exact-replica buckets (the copy-fixture shape) the
    star and pair graphs have identical components: every member
    matches the rep with Jaccard 1.
    """
    sm = _signature_table(docs, id_col, text_col, n)
    buckets = sm.select("id", F.explode(_band_keys("mh")).alias("band_key"))
    reps = buckets.groupBy("band_key").agg(F.min("id").alias("rep"))
    edges = (
        buckets.join(reps, "band_key")
        .filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sha = sm.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    shb = sm.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = inter.cast("double") / union
    return (
        edges.join(sha, "a")
        .join(shb, "b")
        .filter(F.round(jac, 6) >= threshold)
        .select("a", "b")
    )


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 62) -> DataFrame:
    """Per-doc SimHash fingerprint (map-side only, no shuffle beyond
    the fan-out rebalance).

    bit_j = sign of Σ_tokens (((hash(t) >> j) & 1)*2 − 1); the
    fingerprint packs the positive bits. Hamming distance between
    fingerprints ≈ cosine distance of token multisets; pairing via
    bit-band buckets composes with the LSH join above.

    Computed in one Arrow-batched pass (``functions.text_arrow``) —
    the expression form needed one fold per bit over the token-hash
    array per doc through Spark's interpreted HOF path.

    ``bits`` in (32, 62] routes to the WIDE kernel (two salted poly
    hashes concatenated — see ``text_arrow.simhash_wide_arrow``), the
    content-scale configuration whose composite band keys keep the
    pairing candidate stage linear. The DEFAULT is 62 (wide): at <= 32
    bits the fingerprint space saturates on content-unique corpora and
    the pairing candidate stage goes quadratic (measured candidate-
    stage alpha 1.52 vs 0.61 wide, SCALEPROBE_DEDUP_r08) — pass
    ``bits=32`` only for the explicit narrow/fixture-compat variant.
    """
    if not (1 <= bits <= 62):
        raise ValueError(f"bits must be in [1, 62] (packed into a signed long), got {bits}")
    kernel = simhash_arrow if bits <= 32 else simhash_wide_arrow
    return (
        fan_out(docs.select(id_col, text_col))
        .select(id_col, kernel(F.col(text_col), bits).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def _validate_band_args(bits: int, max_hamming: int) -> int:
    """Shared pigeonhole-band argument check; returns ``n_blocks``
    (= ``max_hamming + 2``, the block count of the block-PAIR banding
    scheme below).

    Called by every band entry point BEFORE any side effect (persist /
    cache registration) so invalid arguments never leave stray
    persisted frames behind.
    """
    if not (8 <= bits <= 64):
        raise ValueError(f"bits must be in [8, 64], got {bits}")
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_blocks = max_hamming + 2
    if n_blocks > bits:
        # every block needs >= 1 bit for the pigeonhole argument
        raise ValueError(
            f"{n_blocks} blocks cannot fit in {bits} bits; "
            f"need bits >= max_hamming + 2 = {n_blocks}"
        )
    return n_blocks


def _block_pair_bands(col: str, bits: int, n_blocks: int):
    """Composite block-PAIR band keys (Manku et al., WWW'07 style):
    the fingerprint splits into ``n_blocks = max_hamming + 2``
    near-equal bit blocks; ``max_hamming`` bit errors damage at most
    ``max_hamming`` blocks, so two fingerprints within budget share
    >= 2 INTACT blocks — i.e. they AGREE on at least one of the
    C(n_blocks, 2) (block_i, block_j) composite keys. Recall stays
    exact (pigeonhole), while the per-band collision probability for
    UNRELATED fingerprints drops from 2^-8 (single byte bands, the
    r05 scheme — candidates ~ N²/2^9 per band on content-unique
    corpora, the superlinear stage SCALEPROBE_DEDUP_r08 measured) to
    2^-(w_i+w_j) ≈ 2^-16 at 64 bits / 2^-13 at 32 bits — candidate
    counts fall two orders of magnitude at identical output.

    Cost: C(max_hamming+2, 2) keys per DISTINCT fingerprint (28 at
    the media budget k=6, 10 at the simhash budget k=3) instead of
    bits/8 — a few tens of short rows per fingerprint, paid once at
    fp grain.

    Returns the exploded band Column; signed-64 arithmetic-shift sign
    extension is masked off per block (same trick as the old top
    byte-band).
    """
    from itertools import combinations

    bounds = [bits * i // n_blocks for i in range(n_blocks + 1)]

    def block(i: int):
        lo, w = bounds[i], bounds[i + 1] - bounds[i]
        return F.shiftright(col, lo).bitwiseAND(F.lit((1 << w) - 1))

    return F.explode(
        F.array(
            *[
                F.concat_ws(":", F.lit(f"{i}.{j}"), block(i), block(j))
                for i, j in combinations(range(n_blocks), 2)
            ]
        )
    ).alias("band")


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 62,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Band trick with an *exactness guarantee*: the fingerprint splits
    into ``max_hamming + 2`` blocks; two fingerprints within budget
    damage at most ``max_hamming`` blocks, so by pigeonhole they keep
    >= 2 blocks intact and AGREE on >= 1 composite (block_i, block_j)
    key (:func:`_block_pair_bands`) — the bucket join has 100% recall
    (unlike probabilistic MinHash banding), and ``bit_count(xor)``
    verifies exactly.

    Scale: the band join runs at DISTINCT-FINGERPRINT grain, not doc
    grain. A templated corpus collapses many docs onto few
    fingerprints (the sf0.1 fixture: 5000 docs → 2675 fps → 1.36M
    qualifying doc pairs); banding docs directly would inflate every
    those pairs ×(bands that agree) and then pay a doc-pair
    dropDuplicates shuffle over the inflated set. Here the candidate
    join, hamming verify, and dedup all happen on fingerprint pairs
    (bounded by fp cardinality, never doc count); doc pairs are then
    produced exactly once by construction — identical fingerprints
    pair through one fp-keyed self-join (hamming 0), distinct
    fingerprint pairs expand through two fp-keyed joins — so no
    doc-grain dedup exchange exists in the plan at all. Output is
    identical to the doc-grain formulation.
    """
    from pyspark import StorageLevel

    # validate BEFORE the persist/cache registration below — bad
    # arguments must not leave a stray persisted frame registered
    _validate_band_args(bits, max_hamming)
    # referenced on three plan sides → persist; but keep at most ONE
    # live fingerprint cache per session: four catalog plans call this
    # operator, and a driver that builds them all without calling
    # release_caches() would otherwise pin four copies of the same
    # data. Evicting the previous call's cache is always safe — a
    # still-referenced frame just recomputes.
    while _SIMHASH_FP_CACHE:
        old = _SIMHASH_FP_CACHE.pop()
        try:
            old.unpersist()
        except Exception:
            pass
        _LIVE_CACHES[:] = [d for d in _LIVE_CACHES if d is not old]
    fp = (
        simhash_fingerprints(docs, id_col=id_col, text_col=text_col, bits=bits)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _SIMHASH_FP_CACHE.append(fp)
    _LIVE_CACHES.append(fp)
    return hamming_band_pairs(
        fp, max_hamming=max_hamming, id_col=id_col, fp_col="simhash", bits=bits
    )


def hamming_band_candidates(
    fp: DataFrame, fp_col: str = "simhash", bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """DISTINCT-FINGERPRINT candidate pairs agreeing on >= 1
    composite block-pair band, BEFORE the hamming verify — the
    candidate stage of :func:`hamming_band_pairs`, exposed for the
    scale probe's stage decomposition. Same bucket construction, same
    grain."""
    n_blocks = _validate_band_args(bits, max_hamming)
    uniq = fp.select(F.col(fp_col).alias("f")).distinct()
    buckets = uniq.select("f", _block_pair_bands("f", bits, n_blocks))
    return (
        buckets.select(F.col("f").alias("fa"), "band")
        .join(buckets.select(F.col("f").alias("fb"), "band"), "band")
        .filter(F.col("fa") < F.col("fb"))
        .select("fa", "fb")
        .dropDuplicates(["fa", "fb"])
    )


def hamming_fp_edges(
    fp: DataFrame, max_hamming: int = 3, fp_col: str = "simhash", bits: int = 62
) -> DataFrame:
    """Verified DISTINCT-FINGERPRINT edges ``(fa, fb, hamming)`` with
    ``fa < fb`` and hamming <= ``max_hamming`` — the fp-grain stage of
    :func:`hamming_band_pairs`, exposed on its own because it is the
    BOUNDED substrate for fingerprint-grain clustering: every stage
    (band join, verify, dedup) is bounded by distinct-fingerprint
    cardinality, never doc count, so copy-heavy corpora (K replicas
    collapsing onto one fingerprint) cost nothing extra here while
    the doc-pair expansion grows K². ``simhash_cluster_summary``
    clusters these edges and only then touches doc grain with one
    linear aggregate."""
    n_blocks = _validate_band_args(bits, max_hamming)
    uniq = fp.select(F.col(fp_col).alias("f")).distinct()
    buckets = uniq.select("f", _block_pair_bands("f", bits, n_blocks))
    return (
        buckets.select(F.col("f").alias("fa"), "band")
        .join(buckets.select(F.col("f").alias("fb"), "band"), "band")
        .filter(F.col("fa") < F.col("fb"))  # canonical fp order
        .select(
            "fa",
            "fb",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["fa", "fb"])  # collapses multi-band collisions, fp-grain rows only
    )


def hamming_band_pairs(
    fp: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 32,
) -> DataFrame:
    """Pigeonhole block-pair band pairing over an ARBITRARY
    fingerprint column: ``(a, b, hamming)`` for every id pair whose
    fingerprints differ in at most ``max_hamming`` bits. Shared by
    the text SimHash family (:func:`simhash_near_dup_pairs`) and the
    image/audio/video families (``plans/media_dedup``) — any 8..64-bit
    LongType fingerprint gets the same 100%-recall guarantee: with
    ``max_hamming + 2`` blocks, two fingerprints within budget keep
    >= 2 blocks intact and therefore AGREE on >= 1 composite
    (block_i, block_j) key (see :func:`_block_pair_bands`; r08 —
    replaces single byte-bands, whose 2^-8 collision rate made the
    candidate stage quadratic in distinct fingerprints on
    content-unique corpora).

    Scale discipline (unchanged from the r05 simhash design): the
    band join runs at DISTINCT-FINGERPRINT grain — candidate join,
    hamming verify, and multi-band dedup all bounded by fingerprint
    cardinality, never doc count; doc pairs are then produced exactly
    once by construction (identical fingerprints via one fp-keyed
    self-join at hamming 0, distinct fingerprint pairs via two
    fp-keyed expansion joins), so no doc-grain dedup exchange exists
    in the plan. Caller owns persistence of ``fp`` (it is read on
    three plan sides).
    """
    fpp = hamming_fp_edges(fp, max_hamming=max_hamming, fp_col=fp_col, bits=bits)
    intra = (
        fp.select(F.col(fp_col).alias("f"), F.col(id_col).alias("a"))
        .join(fp.select(F.col(fp_col).alias("f"), F.col(id_col).alias("b")), "f")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).cast("long").alias("hamming"))
    )
    cross = (
        fpp.join(fp.select(F.col(fp_col).alias("fa"), F.col(id_col).alias("ia")), "fa")
        .join(fp.select(F.col(fp_col).alias("fb"), F.col(id_col).alias("ib")), "fb")
        .select(
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "hamming",
        )
    )
    return intra.unionByName(cross)


def hamming_band_probe(
    index_fp: DataFrame,
    incoming_fp: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 32,
) -> DataFrame:
    """Two-sided variant of :func:`hamming_band_pairs` — the
    incremental-ingest probe: for every INCOMING fingerprint, the
    INDEX fingerprints within Hamming ``max_hamming``, as
    ``(inc, ex, hamming)`` id pairs. Same pigeonhole guarantee
    (max_hamming+2 blocks ⇒ >= 1 shared composite block-pair key ⇒
    100% recall), same distinct-fingerprint-grain economics; no
    ordering filter is needed because the sides are disjoint roles,
    and equal fingerprints pair naturally (they share every band,
    hamming 0). Caller owns persistence of frames read on multiple
    plan sides.
    """
    n_blocks = _validate_band_args(bits, max_hamming)

    def bands(df: DataFrame, out: str) -> DataFrame:
        uniq = df.select(F.col(fp_col).alias(out)).distinct()
        return uniq.select(out, _block_pair_bands(out, bits, n_blocks))

    fpp = (
        bands(incoming_fp, "fq")
        .join(bands(index_fp, "fe"), "band")
        .select(
            "fq",
            "fe",
            F.bit_count(F.col("fq").bitwiseXOR(F.col("fe"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["fq", "fe"])
    )
    return (
        fpp.join(incoming_fp.select(F.col(fp_col).alias("fq"), F.col(id_col).alias("inc")), "fq")
        .join(index_fp.select(F.col(fp_col).alias("fe"), F.col(id_col).alias("ex")), "fe")
        .select("inc", "ex", "hamming")
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets
    ``cluster_id`` = the minimum doc id reachable through near-dup
    edges (its own id when isolated). "Keep one per cluster" is then
    ``filter(doc_id == cluster_id)`` — the step that turns pair lists
    into an actual deduplicated corpus.

    Algorithm: STAR CONTRACTION with min-hooking + full path
    compression (the Kiveris et al. 2014 MapReduce-CC family). Labels
    are kept fully compressed between rounds (label = star root), so
    each round:

    (a) per-node neighbor minimum — every node reads the smallest
        root among its graph neighbors (one shuffle join + groupBy);
    (b) HOOK BY ROOT — the candidates aggregate per star
        (``groupBy(label).min``), so when ANY member of star r sees a
        smaller root r', the WHOLE star hooks to r' at once. This is
        the step plain label propagation lacks: without it a long
        star erodes one boundary node per round and an
        adversarially-numbered chain converges in O(diameter), not
        O(log) — caught by tests/test_properties.py's permuted-chain
        case, which the pre-r07 pointer-jumping form failed;
    (c) full path compression — ``label(u) <- label(label(u))``
        repeated to an inner fixpoint (hook chains are strictly
        decreasing id sequences; each jump halves their depth, so the
        inner loop is <= log2(chain) iterations, and on the
        unions-of-small-cliques graphs real dedup produces it exits
        after one no-change check).

    Hooking whole stars at least halves the number of roots in every
    multi-star component per round on boundary-heavy graphs (local
    minima of the contracted graph are an independent set), so rounds
    are hard-capped at 2*ceil(log2(n)) + 8 — exceeding the cap raises
    instead of spinning (near-dup graphs are unions of small cliques
    and converge in 2-3 rounds; the cap is a loud backstop, never a
    silent truncation). Each round is three shuffles on the id plus
    the inner compression joins; the loop is driver-side control flow
    over distributed joins (the standard Spark connected-components
    shape at any scale). Deterministic: min() over ids has a portable
    recursive-CTE oracle twin.
    """
    edges = (
        pairs.selectExpr("a AS u", "b AS v")
        .unionByName(pairs.selectExpr("b AS u", "a AS v"))
        .persist()
    )
    labels = docs.select(F.col(id_col).alias("u"), F.col(id_col).cast("long").alias("label"))
    n_docs = labels.count()
    if max_rounds is None:
        max_rounds = 2 * max(1, n_docs - 1).bit_length() + 8
    par = docs.sparkSession.sparkContext.defaultParallelism
    inner_cap = max(1, n_docs - 1).bit_length() + 2
    for _ in range(max_rounds):
        neighbor = (
            edges.join(labels.withColumnRenamed("u", "v_id"), edges.v == F.col("v_id"))
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        with_nbr = labels.join(neighbor, "u", "left")
        # hook per ROOT: min neighbor-root seen by any member of the
        # star (F.min skips the NULLs of members with no neighbors)
        hook = with_nbr.groupBy("label").agg(F.min("nbr_label").alias("hook_label"))
        new_labels = (
            with_nbr.join(hook.withColumnRenamed("label", "h_id"), with_nbr.label == F.col("h_id"))
            .select(
                "u",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_label", F.col("label")),
                    F.coalesce("hook_label", F.col("label")),
                ).alias("label"),
            )
        )
        # truncate lineage each round: without this the plan (and the
        # recompute cost of the convergence check) grows per iteration.
        # coalesce first — localCheckpoint materializes pre-AQE
        # partitioning, and label tables are small relative to the
        # session's shuffle.partitions setting. Checkpointing BEFORE
        # the compression self-join also keeps the hook subtree from
        # being computed twice (once per join side).
        new_labels = new_labels.coalesce(par).localCheckpoint(eager=True)
        # full path compression: label <- label(label) to an inner
        # fixpoint (every label is itself a doc id, so it is a key of
        # the label table; the left join keeps isolated docs).
        for _inner in range(inner_cap):
            lookup = new_labels.select(F.col("u").alias("l_id"), F.col("label").alias("l_label"))
            jumped = (
                new_labels.join(lookup, new_labels.label == F.col("l_id"), "left")
                .select(
                    "u",
                    F.least(F.col("label"), F.coalesce("l_label", F.col("label"))).alias("label"),
                )
                .coalesce(par)
                .localCheckpoint(eager=True)
            )
            compressed = (
                jumped.alias("n")
                .join(new_labels.alias("o"), "u")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
            new_labels = jumped
            if compressed:
                break
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"duplicate_clusters: no fixpoint after {max_rounds} rounds "
            f"(n={n_docs}); pair graph is pathological — investigate before rerunning"
        )
    edges.unpersist()
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment
    |A∩B| / min(|A|, |B|) ≥ threshold — the quote/partial-copy
    detector Jaccard misses: a short document fully embedded in a
    long one has tiny Jaccard (union is dominated by the long doc)
    but containment ≈ 1. Same inverted-index economics as
    :func:`ngram_jaccard_pairs` (the shingle hash is the only
    shuffle key; the quadratic term lives inside hash buckets).
    """
    pairs = _shingle_pair_counts(docs, id_col, text_col, n)
    containment = F.col("inter").cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        pairs.select("a", "b", F.round(containment, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _span_rows(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) — one row per token *position* whose n-token window
    fits in the doc; duplicates kept (multiplicity matters for span
    statistics, unlike the set-based Jaccard path).

    Both consumers (:func:`duplicate_span_stats`,
    :func:`duplicate_span_topk`) read these rows on ONE plan side, so
    the span-array table under them is not persisted."""
    return _span_arrays(docs, n, id_col, text_col, persist=False).select(
        "id", F.explode("shs").alias("sh")
    )


def _span_arrays(
    docs: DataFrame, n: int, id_col: str, text_col: str, persist: bool = True
) -> DataFrame:
    """(id, shs: array<bigint>) — the per-doc span-hash table the
    span consumers build from. ``persist=True`` (scrub: caching avoids
    re-running the Arrow hashing pass per plan side); the single-side
    readers (:func:`_span_rows`) pass ``persist=False`` — holding the
    whole corpus's span arrays for a once-read table is pure cache
    pressure."""
    arrays = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        shingle_hashes_arrow(F.col(text_col), n).alias("shs"),
    )
    if persist:
        from pyspark import StorageLevel

        arrays = arrays.persist(StorageLevel.MEMORY_AND_DISK)
        _LIVE_CACHES.append(arrays)
    return arrays


def duplicate_span_stats(
    docs: DataFrame,
    n: int = SPAN_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repeated-span statistics — the substring-level
    exact-dedup signal (after Lee et al. 2022, *Deduplicating Training
    Data Makes Language Models Better*, which removes verbatim spans
    repeated across a corpus).

    A span is a window of ``n`` consecutive tokens keyed by its
    portable shingle hash; a span is *duplicated* when it occurs in
    more than one distinct document. Output per doc: total spans,
    duplicated-span positions, and their fraction — the score a
    curation pass thresholds on (docs shorter than ``n`` tokens have
    no spans and drop out, as in the oracle twin).

    Scale shape: **linear, no pair join.** Explode to (doc, span-hash)
    rows, ONE hash exchange on the 8-byte span hash, and a window
    ``min(id) != max(id) over (partition by sh)`` — value-identical to
    ``count_distinct(id) > 1`` (two rows with different ids exist iff
    the extremes differ) — then ONE aggregate back to doc grain. The
    paper's single-node suffix array becomes this hash-window
    approximation in distributed form — cost O(corpus tokens), the
    only shape that survives 100 TB.

    r14 (guide §2.3/§2.4): the r13 form computed ``ndocs`` with a
    ``groupBy(sh).count_distinct`` and shuffle-joined it back on sh —
    the span rows crossed the wire twice (once deduped for the count,
    once whole for the join probe) and the per-doc span table had to
    be persisted because two plan sides consumed it. The window form
    shuffles every span row ONCE, reads the Arrow hashing pass once
    (no persist, no cache materialization), and drops the join
    outright: measured 1.097 → 0.651 s at sf0.1 (Exchange 6 → 3,
    ArrowEvalPython 2 → 1), rows identical. Skew exposure is
    unchanged: the old join clustered every occurrence of a hot
    span hash onto one partition too, and neither form can split a
    single enormous key (AQE skew handling applies to joins only).
    """
    spans = _span_rows(docs, n, id_col, text_col)
    w = Window.partitionBy("sh")
    flagged = spans.withColumn("dup", F.min("id").over(w) != F.max("id").over(w))
    dup = F.count(F.when(F.col("dup"), F.lit(1))).alias("dup_spans")
    return (
        flagged.groupBy("id")
        .agg(F.count("*").alias("n_spans"), dup)
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans").cast("double") / F.col("n_spans"), 6).alias("dup_frac"),
        )
    )


def duplicate_span_topk(
    docs: DataFrame,
    n: int = SPAN_N,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The k most-duplicated spans across the corpus (boilerplate /
    template detector): span hash, distinct-doc count, total
    occurrences. Deterministic order — (ndocs, occurrences) desc,
    hash asc. Same linear explode + one hash aggregate as
    :func:`duplicate_span_stats`; top-k is a tiny driver-side sort
    Catalyst executes as TakeOrderedAndProject (no full sort).
    Single consumer => the span table is NOT persisted here."""
    spans = _span_rows(docs, n, id_col, text_col)
    return (
        spans.groupBy("sh")
        .agg(F.count_distinct("id").alias("ndocs"), F.count("*").alias("occurrences"))
        .filter(F.col("ndocs") > 1)
        .orderBy(F.desc("ndocs"), F.desc("occurrences"), F.asc("sh"))
        .limit(k)
        .select(F.col("sh").alias("span_hash"), "ndocs", "occurrences")
    )


def _band_keys(mh_col: str) -> Column:
    """The 4 banded LSH keys of a k=16 minhash signature column —
    shared by the self-join (:func:`minhash_lsh_pairs`) and the
    incremental probe (:func:`incremental_near_dup`)."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    return F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(str(bnd)),
                *[
                    F.element_at(mh_col, bnd * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for bnd in range(MINHASH_BANDS)
        ]
    )


def incremental_near_dup(
    existing: DataFrame,
    incoming: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: for each INCOMING document, decide
    whether it near-duplicates the EXISTING corpus — the daily-batch
    shape of a production pipeline (the corpus index is built once
    and persisted; each delivery probes it, it never re-pairs the
    whole corpus against itself).

    Output one row per incoming doc: ``is_dup`` (0/1), ``match_ct``,
    ``best_match_id`` (highest Jaccard, ties to the smallest existing
    id; −1 when none) and ``best_jaccard`` (0.0 when none).

    Scale shape: both sides map to (id, band-key) rows; the probe is
    an equi-join on the band key (incoming side is delivery-sized, so AQE
    broadcasts it against the corpus index); candidates carry IDS
    ONLY, and only surviving candidate pairs re-join the shingle
    arrays for exact-Jaccard verification — identical economics to
    :func:`minhash_lsh_pairs`, with the corpus signature table being
    the at-rest artifact a deployment maintains incrementally.
    """
    from pyspark.sql import Window

    ex = _signature_table(existing, id_col, text_col, n)
    inc = _signature_table(incoming, id_col, text_col, n)
    exb = ex.select(F.col("id").alias("ex"), F.explode(_band_keys("mh")).alias("band_key"))
    inb = inc.select(F.col("id").alias("inc"), F.explode(_band_keys("mh")).alias("band_key"))
    cand = inb.join(exb, "band_key").select("inc", "ex").dropDuplicates(["inc", "ex"])
    sha = inc.select(F.col("id").alias("inc"), F.col("sh").alias("sha"))
    shb = ex.select(F.col("id").alias("ex"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jac = F.round(inter.cast("double") / union, 6)
    matched = (
        cand.join(sha, "inc")
        .join(shb, "ex")
        .select("inc", "ex", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("inc").orderBy(F.desc("jaccard"), F.asc("ex"))
    best = (
        matched.withColumn("rn", F.row_number().over(w))
        .withColumn("match_ct", F.count("*").over(Window.partitionBy("inc")))
        .filter(F.col("rn") == 1)
        .select("inc", "match_ct", F.col("ex").alias("best_match_id"), F.col("jaccard").alias("best_jaccard"))
    )
    return (
        incoming.select(F.col(id_col).alias("inc"))
        .join(best, "inc", "left")
        .select(
            F.col("inc").alias(id_col),
            F.when(F.col("match_ct").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("is_dup"),
            F.coalesce("match_ct", F.lit(0).cast("long")).alias("match_ct"),
            F.coalesce("best_match_id", F.lit(-1).cast("long")).alias("best_match_id"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        )
    )


def span_scrub_stats(
    docs: DataFrame,
    n: int = SPAN_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL step of substring dedup (Lee et al. scrub verbatim
    repeated spans instead of dropping whole docs): per document,
    how many token positions are covered by at least one duplicated
    span, and how many clean tokens survive the scrub.

    covered(d) = |union over duplicated spans at position p of
    [p, p+n-1]| — overlapping spans are unioned, not double-counted.

    Scale shape: still linear. posexplode the persisted span table,
    flag duplicated hashes with ``min(id) != max(id) over (partition
    by sh)`` — value-identical to ``count_distinct(id) > 1``, the
    same r14 rewrite as :func:`duplicate_span_stats`: one sh-keyed
    exchange instead of the groupBy partials PLUS a semi-join of the
    whole position table back on sh (span rows crossed the wire
    twice; measured 1.63 → 1.05 s at sf0.1, rows identical) — then
    expand each duplicated hit to its n token indices (a constant n×
    fan-out of the *duplicated* positions only) and count-distinct
    per doc. No pair join.
    """
    arrays = _span_arrays(docs, n, id_col, text_col)
    spans_pos = arrays.select("id", F.posexplode("shs").alias("pos", "sh"))
    w = Window.partitionBy("sh")
    covered = (
        spans_pos.withColumn("dup", F.min("id").over(w) != F.max("id").over(w))
        .filter(F.col("dup"))
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("tok"))
        .groupBy("id")
        .agg(F.count_distinct("tok").alias("covered_ct"))
    )
    base = arrays.filter(F.size("shs") > 0).select(
        "id", (F.size("shs") + F.lit(n - 1)).cast("long").alias("token_ct")
    )
    return (
        base.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "token_ct",
            F.coalesce("covered_ct", F.lit(0).cast("long")).alias("covered_ct"),
            (F.col("token_ct") - F.coalesce("covered_ct", F.lit(0).cast("long"))).alias("clean_ct"),
            F.round(
                F.coalesce("covered_ct", F.lit(0).cast("long")).cast("double") / F.col("token_ct"), 6
            ).alias("covered_frac"),
        )
    )

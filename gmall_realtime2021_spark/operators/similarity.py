"""Similarity search over embedding columns (SURVEY.md §7 M5).

Embeddings are ``array<float>`` columns; all arithmetic is JVM-side
double folds (functions/vectors.py) so results stay oracle-exact.
Fixed-matrix dots (centroids, hyperplanes, PQ codebooks) over
corpus-sized inputs come from one Arrow pass
(functions/vectors_arrow.py); query-sized inputs stay in SQL
expressions. Every top-k operator ends in the one :func:`_topk` tail.

Scale shapes:

- brute-force top-k: broadcast the (small) query set, scan the
  corpus once, per-partition partial top-k via the rank window —
  the honest baseline every ANN variant is judged against.
- LSH (random hyperplane): deterministic hyperplanes → sign-bit
  bucket key → equi-join queries↔corpus per bucket. The bucket key
  is the shuffle key; each query only scores its bucket. Recall is
  tunable with more tables/probes; this is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall_realtime2021_spark.functions.vectors import dot, dot_sql, lit_array, norm
from gmall_realtime2021_spark.functions.vectors_arrow import matrix_dots_arrow
from gmall_realtime2021_spark.tables import fan_out

__all__ = [
    "LSH_PLANES",
    "IVF_CENTROIDS",
    "NEARDUP_PLANES",
    "PQ_BOOKS",
    "PQ_C2",
    "PQ_PADDED",
    "hyperplanes",
    "cosine_topk",
    "hard_negative_topk",
    "lsh_bucket_topk",
    "ivf_topk",
    "ivf_assign",
    "ivf_topk_at_rest",
    "embedding_near_dup_pairs",
    "pq_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_rerank_topk",
    "train_pq_codebooks",
    "train_ivf_centroids",
    "semantic_dedup_flags",
    "mmr_topk",
]


def hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from an LCG over
    rationals — exact literals both engines parse to identical
    doubles (no libm, no RNG)."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            v = (1103515245 * (j * 131 + i * 17 + 7) + 12345) % (1 << 31)
            row.append(v / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


LSH_PLANES = hyperplanes()


def _with_norm(df: DataFrame, vec_col: str, prefix: str, *carry: str) -> DataFrame:
    """``(<prefix>_id, <prefix>_<carry>..., <prefix>_vec, <prefix>_norm)``:
    the norm is computed once per row, not once per pair."""
    return df.select(
        F.col("vec_id").alias(f"{prefix}_id"),
        *[F.col(c).alias(f"{prefix}_{c}") for c in carry],
        F.col(vec_col).alias(f"{prefix}_vec"),
        norm(vec_col).alias(f"{prefix}_norm"),
    )


def _cosine(a: str, b: str) -> F.Column:
    """Raw cosine ``dot(<a>_vec, <b>_vec) / (<a>_norm · <b>_norm)`` of
    two :func:`_with_norm` rows, in the fixed fold order."""
    return F.expr(f"{dot_sql(a + '_vec', b + '_vec')} / ({a}_norm * {b}_norm)")


def _topk(
    scored: DataFrame,
    k: int,
    score: str,
    *carry: str,
    ascending: bool = False,
    long_rank: bool = False,
) -> DataFrame:
    """The top-k tail every operator here shares: ``row_number`` per
    ``query_id`` by ``score`` (ties on ``neighbor_id``), ranks ``<= k``,
    score rounded to 6 places. Output ``(query_id, neighbor_id,
    *carry, rank, score)``; ``long_rank`` casts the rank before the
    filter."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    rank = F.row_number().over(Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id")))
    return (
        scored.withColumn("rank", rank.cast("long") if long_rank else rank)
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *carry, "rank", F.round(score, 6).alias(score))
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5, vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus scan.

    Norms are precomputed per row (not per pair); cosine =
    dot/(qn·cn) in a fixed fold order so DuckDB reproduces the bits.
    Ties broken on neighbor id.
    """
    q = F.broadcast(_with_norm(queries, vec_col, "q"))
    c = _with_norm(corpus, vec_col, "c")
    scored = q.join(c).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        _cosine("q", "c").alias("cos"),
    )
    return _topk(scored, k, "cos")


def hard_negative_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, vec_col: str = "embedding"
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors whose LABEL differs from the
    query's — the negatives that actually move a contrastive loss
    (random negatives are trivially separable; same-label hits are
    false negatives and must be excluded, per Contriever/DPR
    practice).

    Same shape as :func:`cosine_topk` (broadcast queries x corpus
    scan, fixed fold-order cosine) with the label inequality applied
    BEFORE the rank window, so per-query frames shrink rather than
    grow. Scale path: swap the brute-force scan for the IVF probe
    (``ivf_topk``) and keep the same label filter on the probe
    output."""
    q = F.broadcast(_with_norm(queries, vec_col, "q", "label"))
    c = _with_norm(corpus, vec_col, "c", "label")
    scored = (
        q.join(c)
        .filter(F.col("c_label") != F.col("q_label"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.col("c_label").alias("neg_label"),
            _cosine("q", "c").alias("cos"),
        )
    )
    return _topk(scored, k, "cos", "neg_label")


def centroids(n_cells: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic IVF coarse-quantizer centroids (same LCG-rational
    discipline as :func:`hyperplanes` — exact literals in both
    engines). A production deployment would train these with k-means
    and broadcast them; the index structure is identical."""
    cells = []
    for j in range(n_cells):
        row = []
        for i in range(dim):
            v = (1103515245 * (j * 419 + i * 23 + 29) + 12345) % (1 << 31)
            row.append(v / float(1 << 31) - 0.5)
        cells.append(row)
    return cells


IVF_CENTROIDS = centroids()
#: ‖c‖² per centroid, as exact Python doubles (inlined as literals).
IVF_C2 = [sum(x * x for x in c) for c in IVF_CENTROIDS]

#: SemDeDup quantizer sizing: target vectors per cell. k = max(16,
#: ceil(N / SEMDEDUP_TARGET_CELL)) holds the expected cell size as the
#: corpus grows — the paper's own k ∝ N discipline (per-cell pair work
#: is O(cell²·dim), so a FIXED k degrades the whole operator to
#: O(N²/k); the r9 ×16 probe measured that asymptote at α 1.37).
SEMDEDUP_TARGET_CELL = 32


def semantic_dedup_k(n_rows: int, target_cell: int = SEMDEDUP_TARGET_CELL) -> int:
    """The corpus-sized quantizer k for :func:`semantic_dedup_flags` —
    shared verbatim with the DuckDB oracle CTE (greatest(16,
    ceil(n/target)))."""
    return max(16, -(-n_rows // target_cell))


def _cell_scores(vec_col: str, cents: list[list[float]] | None = None) -> F.Column:
    """array of (−2·v·cⱼ + ‖cⱼ‖²) — rank-equivalent to squared
    distance to centroid j (‖v‖² is constant per row), for
    CORPUS-sized inputs: the centroid dots come from one Arrow
    matrix-dot pass (functions/vectors_arrow.py), the affine map stays
    JVM-side. Query-sized inputs use the SQL form,
    :func:`_probe_scores`, which is bit-equal (same fold, same operand
    order)."""
    cents = cents if cents is not None else IVF_CENTROIDS
    c2 = F.expr(lit_array([sum(x * x for x in c) for c in cents]))
    dots = matrix_dots_arrow(F.col(vec_col), cents)
    return F.transform(dots, lambda d, j: d * F.lit(-2.0) + F.element_at(c2, j + 1))


def ivf_assign(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Map-side IVF cell assignment for the AT-REST index layout:
    ``(vec_id, embedding, norm, cell)`` — the row an ingest pipeline
    writes ``partitionBy(cell)`` (``sources/warehouse.
    ensure_ivf_embeddings``) so that serving reads only probed-cell
    directories. The norm is computed ONCE here with the same
    sequential-fold kernel every query-time path uses, so the stored
    double is bit-identical to a recomputation (parquet round-trips
    doubles exactly) and cosine values never depend on which side
    computed it. One linear Arrow pass; no shuffle."""
    c = _with_norm(fan_out(emb.select("vec_id", vec_col)), vec_col, "c").withColumn(
        "scores", _cell_scores("c_vec")
    )
    return c.withColumn(
        "cell", F.array_position("scores", F.array_min("scores")).cast("long")
    ).select(
        F.col("c_id").alias("vec_id"),
        F.col("c_vec").alias("embedding"),
        F.col("c_norm").alias("norm"),
        "cell",
    )


def _probe_scores(vec: str) -> F.Column:
    """The IVF centroid scores of :func:`_cell_scores` for QUERY-sized
    inputs, as one SQL expression: per centroid the same
    sequential-fold dot and the same (dot · −2.0 + ‖c‖²) operand order,
    so the scores are bit-equal to the Arrow kernel's. It keeps the
    probe side in whole-stage codegen, and the at-rest IVF plan
    qualifies for dynamic partition pruning (Spark's DPP subquery
    cannot carry a Python UDF)."""
    cells = (
        f"{dot_sql(vec, lit_array(c))} * -2.0D + {lit_array(c2)}"
        for c, c2 in zip(IVF_CENTROIDS, IVF_C2)
    )
    return F.expr(f"array({', '.join(cells)})")


def _probe_cells(q: DataFrame, n_probe: int, vec: str, *keep: str | F.Column) -> DataFrame:
    """Query-side probe set, shared by every IVF operator: the
    ``n_probe`` nearest cells to ``vec`` by the portable (score,
    index)-struct argsort — one exploded row per (query, probed cell),
    ``(*keep, cell)``. Raises ``ValueError`` unless ``n_probe`` is in
    ``[1, n_cells]``."""
    n_cells = len(IVF_CENTROIDS)
    if not 1 <= n_probe <= n_cells:
        raise ValueError(f"n_probe must be in [1, {n_cells}]")
    probes = F.expr(
        f"transform(slice(array_sort(transform(sequence(1, {n_cells}),"
        f" x -> struct(element_at(scores, x) AS s, x AS i))), 1, {n_probe}),"
        " x -> CAST(x.i AS BIGINT))"
    )
    return q.withColumn("scores", _probe_scores(vec)).select(*keep, F.explode(probes).alias("cell"))


def ivf_topk_at_rest(
    queries: DataFrame, corpus_at_rest: DataFrame, k: int = 3, n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN against the MATERIALIZED cell-partitioned index
    (:func:`ivf_assign` rows read back from a ``partitionBy(cell)``
    layout): the corpus-side assignment pass disappears from query
    time, and because ``cell`` is the layout's PARTITION COLUMN, the
    broadcast probe join drives Spark's dynamic partition pruning —
    the scan opens only the probed cells' directories (pinned in
    ``tests/test_physical_plans.py``). This is the 100 TB serving
    shape: index cost at ingest, per-query I/O ∝ n_probe/n_cells of
    the corpus. Values identical to :func:`ivf_topk` (same probe
    argsort, same fold order, stored norms bit-equal). The probe side
    computes its cell scores as SQL expressions (:func:`_probe_scores`)
    — bit-equal to the Arrow kernel — so the plan qualifies for DPP (a
    Python UDF on the filtering side disqualifies the pruning
    subquery)."""
    q = _probe_cells(_with_norm(queries, vec_col, "q"), n_probe, "q_vec", "q_id", "q_vec", "q_norm")
    scored = F.broadcast(q).join(corpus_at_rest, "cell").select(
        F.col("q_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"{dot_sql('q_vec', vec_col)} / (q_norm * norm)").alias("cos"),
    )
    return _topk(scored, k, "cos")


def train_ivf_centroids(
    emb: DataFrame,
    iters: int = 5,
    vec_col: str = "embedding",
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Lloyd's k-means for the IVF coarse quantizer — the production
    step before :func:`ivf_topk` / :func:`ivf_pq_topk` index a real
    corpus (the module-level ``IVF_CENTROIDS`` stay fixed so the
    registered plans remain oracle-checkable; this trains the
    centroids a deployment would broadcast instead).

    Each iteration is ``kmeans_iteration``'s exact shape — map-side
    Arrow assignment, ONE shuffle on (cell, dimension) with
    integer-micros partial sums — and the driver holds only the
    k × dim centroid matrix. Empty cells keep their previous
    centroid. Deterministic given data + init."""
    cents = [list(c) for c in (init or centroids())]
    base = fan_out(emb.select(vec_col))
    for _ in range(iters):
        scored = base.withColumn("scores", _cell_scores(vec_col, cents))
        cell = F.array_position("scores", F.array_min("scores")).cast("int")
        stats = (
            scored.select(cell.alias("cell"), F.posexplode(vec_col).alias("p", "valf"))
            .groupBy("cell", "p")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("valf").cast("double") * 1000000 + F.lit(0.5)).cast("long")
                ).alias("s"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in stats:
            new_cents[r["cell"] - 1][r["p"]] = (r["s"] / 1000000.0) / r["n"]
        cents = new_cents
    return cents


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3, n_probe: int = 2, vec_col: str = "embedding"
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell;
    queries probe the ``n_probe`` nearest cells and score exact
    cosine only there.

    Scale path: the cell id is the shuffle/join key (like a
    bucketed-table layout at rest); a 100 TB corpus partitioned by
    cell serves each query from n_probe partitions. Probing is
    expressed as an explode of the probe-cell array → plain
    equi-join; Catalyst broadcasts the (small) query side.

    Probing is a portable argsort: (score, index) structs sorted
    lexicographically — Spark ``array_sort`` and DuckDB ``list_sort``
    order structs identically, so any ``n_probe`` stays
    oracle-exact (ties broken by cell index in both engines).
    """
    # Corpus: assign to nearest cell (first index on exact ties).
    # fan_out: 16 centroid dots per row, rebalanced across cores.
    c = _with_norm(fan_out(corpus.select("vec_id", vec_col)), vec_col, "c").withColumn(
        "scores", _cell_scores("c_vec")
    )
    c = c.withColumn("cell", F.array_position("scores", F.array_min("scores"))).drop("scores")
    # Queries: the n_probe nearest cells by score-argsort (shared with
    # the at-rest path so both serve identical probe sets).
    q = _probe_cells(_with_norm(queries, vec_col, "q"), n_probe, "q_vec", "q_id", "q_vec", "q_norm")
    scored = F.broadcast(q).join(c, "cell").select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        _cosine("q", "c").alias("cos"),
    )
    return _topk(scored, k, "cos")


#: Multi-table LSH for near-dup: 4 tables × 4 planes. One 8-plane
#: table (as in :func:`lsh_bucket_topk`) has ~0 recall at cosine 0.5
#: (P = (1−θ/π)^8); banding trades precision for recall exactly like
#: MinHash bands (operators/dedup.py).
NEARDUP_PLANES = hyperplanes(16)
NEARDUP_TABLES = 4
NEARDUP_PLANES_PER = 4


def _neardup_band_keys(vec_col: str) -> F.Column:
    """4 band keys from one Arrow pass over all 16 planes; only the
    sign-bit formatting stays in the JVM."""
    dots = matrix_dots_arrow(F.col(vec_col), NEARDUP_PLANES).alias("_nd_dots")

    def key(t: int, d: F.Column) -> F.Column:
        bits = [
            F.when(F.element_at(d, t * NEARDUP_PLANES_PER + i + 1) > 0, "1").otherwise("0")
            for i in range(NEARDUP_PLANES_PER)
        ]
        return F.concat(F.lit(f"{t}:"), *bits)

    # Route through a single transform over a 1-elem wrapper so the
    # UDF column is referenced once per row, not 16 times.
    return F.transform(
        F.array(dots), lambda d: F.array(*[key(t, d) for t in range(NEARDUP_TABLES)])
    ).getItem(0)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    min_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup
    primitive): candidates = pairs colliding in >= ``min_tables`` of
    the 4 LSH band tables, then exact cosine >= threshold verifies --
    the candidates-then-verify shape of MinHash-LSH dedup.

    Scale design: the bucket join carries *ids only* (the band key is
    the sole shuffle key; rows are two ints and a short string), the
    >=min_tables vote is a cheap count aggregate that cuts random
    collisions ~10x before any vector math, and only the surviving
    candidate ids re-join the (norm-annotated) vectors for exact
    verification. Vector arrays never travel through the candidate
    shuffle -- the difference between this and a naive bucket join is
    the difference between shuffling ids and shuffling the corpus.

    r13 measurements (guide §1/§4): (a) the band-key table feeds BOTH
    sides of the self-join, so an uncached plan runs the Arrow
    matrix-dot pass twice — it is persisted once per query (the
    MinHash signature-table pattern; released via release_caches).
    (b) Verification computes the dot with the JVM fold, not an Arrow
    pair-dot kernel: the candidate set carries two vectors per pair
    (~70 MB of Arrow traffic at 137k candidates × 64 dims at sf0.1)
    and the whole-batch round-trip costs more than the interpreted
    fold spread across the cluster.
    """
    from gmall_realtime2021_spark.operators.dedup import register_cache

    # fan_out: the 16 plane-dots per row are the map-side hot path —
    # rebalance the (single-row-group) scan before computing them.
    base = fan_out(emb.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), norm(vec_col).alias("nm")
    )
    buckets = register_cache(
        base.select("id", F.explode(_neardup_band_keys("vec")).alias("bucket"))
    )
    cand = (
        buckets.select(F.col("id").alias("a"), "bucket")
        .join(buckets.select(F.col("id").alias("b"), "bucket"), "bucket")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("tables_hit"))
        .filter(F.col("tables_hit") >= min_tables)
        .select("a", "b")
    )
    va = base.select(F.col("id").alias("a"), F.col("vec").alias("va"), F.col("nm").alias("na"))
    vb = base.select(F.col("id").alias("b"), F.col("vec").alias("vb"), F.col("nm").alias("nb"))
    cos = F.expr(f"{dot_sql('va', 'vb')} / (na * nb)")
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _bit_cols(vec_col: str) -> list[F.Column]:
    """The 8 sign bits as individual '0'/'1' columns — computed once
    (one Arrow matrix-dot pass), composed into bucket keys after."""
    dots = matrix_dots_arrow(F.col(vec_col), LSH_PLANES)
    return [
        F.when(F.element_at(dots, i + 1) > 0, "1").otherwise("0").alias(f"_bit{i}")
        for i in range(len(LSH_PLANES))
    ]


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """Hyperplane-LSH ANN: queries meet corpus only inside their
    sign-bucket, then exact cosine top-k within the bucket. Output is
    the algorithm's answer (not exact top-k) — the oracle runs the
    same algorithm, so the check is strict.

    ``multiprobe`` probes the 8 one-bit-flip neighbor buckets as well
    (the standard multi-probe LSH recall lever): a query whose true
    neighbor sits just across one hyperplane still finds it, at 9×
    candidate cost — still a tiny fraction of the corpus. Corpus rows
    stay single-bucket; only the (broadcast) query side fans out.
    """
    n = len(LSH_PLANES)
    qb = _with_norm(queries, vec_col, "q").select("*", *_bit_cols("q_vec"))
    bits = [F.col(f"_bit{i}") for i in range(n)]

    def key_with_flip(flip: int | None) -> F.Column:
        parts = [
            F.when(bits[i] == "1", "0").otherwise("1") if i == flip else bits[i]
            for i in range(n)
        ]
        return F.concat(*parts)

    probe_keys = [key_with_flip(None)] + ([key_with_flip(i) for i in range(n)] if multiprobe else [])
    q = F.broadcast(
        qb.select("q_id", "q_vec", "q_norm", F.explode(F.array(*probe_keys)).alias("bucket"))
    )
    cb = _with_norm(corpus, vec_col, "c").select("*", *_bit_cols("c_vec"))
    c = cb.select("c_id", "c_vec", "c_norm", F.concat(*bits).alias("bucket"))
    scored = (
        q.join(c, "bucket")
        .dropDuplicates(["q_id", "c_id"])
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cos"),
        )
    )
    return _topk(scored, k, "cos")


#: Product-quantization geometry: 64-dim vectors → PQ_M subvectors of
#: PQ_SUBDIM dims, each quantized to one of PQ_K sub-centroids → an
#: 8-code signature (8 bytes at rest vs 256 for the raw float32 row —
#: the compression that makes billion-vector ANN fit a cluster).
PQ_M = 8
PQ_K = 16
PQ_SUBDIM = 8


def pq_codebooks(m: int = PQ_M, k: int = PQ_K, subdim: int = PQ_SUBDIM) -> list[list[list[float]]]:
    """Deterministic sub-codebooks (same LCG-rational discipline as
    :func:`hyperplanes`). Scaled to ~the data's subvector magnitude
    (fixture embeddings are ~unit-norm ⇒ subvector rms ~0.35) so the
    argmin is driven by the dot term, not the centroid-norm constant
    — a production deployment trains these per-subspace with k-means
    (one :func:`kmeans_iteration`-shaped loop per subspace) and
    broadcasts them; index structure and search are identical."""
    books = []
    for mm in range(m):
        rows = []
        for kk in range(k):
            row = []
            for i in range(subdim):
                v = (1103515245 * (mm * 947 + kk * 53 + i * 11 + 3) + 12345) % (1 << 31)
                row.append((v / float(1 << 31) - 0.5) * 0.25)
            rows.append(row)
        books.append(rows)
    return books


PQ_BOOKS = pq_codebooks()


def _pq_c2(books: list[list[list[float]]]) -> list[list[float]]:
    """‖c‖² per sub-centroid (exact Python doubles, inlined as literals)."""
    return [[sum(x * x for x in c) for c in book] for book in books]


def _pq_padded(books: list[list[list[float]]]) -> list[list[float]]:
    """Each sub-centroid zero-padded to the full dimension: dot(v,
    padded) ≡ dot(subvector, centroid), so ONE Arrow matrix pass
    against all M·K padded rows yields every subquantizer dot — and
    the DuckDB twin uses the same padded 64-term fold, making parity
    trivially exact."""
    subdim = len(books[0][0])
    dim = len(books) * subdim
    return [
        [0.0] * (mm * subdim) + c + [0.0] * (dim - (mm + 1) * subdim)
        for mm, book in enumerate(books)
        for c in book
    ]


PQ_C2 = _pq_c2(PQ_BOOKS)
PQ_PADDED = _pq_padded(PQ_BOOKS)


def _pq_scores(dots_col: F.Column, m: int, c2s: list[list[float]]) -> F.Column:
    """Subquantizer ``m``'s K scores (−2·dot + ‖c‖², rank-equivalent
    to squared distance) from the flat M·K dots array."""
    k = len(c2s[m])
    c2 = F.expr(lit_array(c2s[m]))
    return F.zip_with(
        F.slice(dots_col, m * k + 1, k), c2, lambda d, c: d * F.lit(-2.0) + c
    )


def _adc_table(c2s: list[list[float]]) -> F.Column:
    """A query's flat M·K ADC score table ``qs`` from its ``_qdots``."""
    return F.flatten(
        F.array(*[_pq_scores(F.col("_qdots"), m, c2s) for m in range(len(c2s))])
    ).alias("qs")


def _adc_dist(m_count: int, k_count: int) -> F.Column:
    """``q2 + Σₘ qs[(m−1)·K + codeₘ]``: the ADC lookup-table fold of a
    corpus row's ``codes`` against its query's ``qs`` table (the lambda
    touches only attributes)."""
    lut_terms = F.zip_with(
        F.col("codes"),
        F.sequence(F.lit(1), F.lit(m_count)),
        lambda code, m: F.element_at(
            F.col("qs"), ((m - F.lit(1)) * F.lit(k_count) + code).cast("int")
        ),
    )
    return F.col("q2") + F.aggregate(lut_terms, F.lit(0.0), lambda acc, x: acc + x)


def train_pq_codebooks(
    emb: DataFrame,
    iters: int = 5,
    vec_col: str = "embedding",
    init: list[list[list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means for the PQ codebooks — ALL
    subquantizers trained in one distributed job per iteration, not M
    separate loops: explode each vector into its M (m, subvector)
    rows, assign against subquantizer m's current centroids, re-mean
    per (m, cell). Empty cells keep their previous centroid (the
    standard k-means dead-cell rule).

    This is the production path: train on a corpus sample, broadcast
    the resulting ~M·K·subdim floats to :func:`pq_encode` /
    :func:`pq_adc_topk` (their ``books=``). The driver holds only the
    codebook (tiny); each iteration is one shuffle on (m, cell) with
    map-side partial sums — `kmeans_iteration`'s shape, M subspaces
    at once. Deterministic given data + init (argmin first-index
    tie-break, exact integer-micros summation)."""
    books = [list(map(list, b)) for b in (init or pq_codebooks())]
    m_count = len(books)
    subdim = len(books[0][0])
    subs = fan_out(emb.select(vec_col)).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_count - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(vec_col, m * F.lit(subdim) + 1, subdim).alias("sub"),
                ),
            )
        ).alias("e")
    ).select(F.col("e.m").alias("m"), F.col("e.sub").alias("sub"))
    for _ in range(iters):
        # distance scores per row against its own subquantizer's K
        # centroids: inline the per-m centroid matrix as a nested
        # literal array indexed by m — pure expression, no UDF needed
        # at subdim=8 × K=16 scale.
        my_cents = F.element_at(F.expr(lit_array(books)), F.col("m") + 1)
        dists = F.transform(
            my_cents,
            lambda c: F.aggregate(
                F.zip_with(F.col("sub"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        assigned = subs.select(
            "m",
            "sub",
            F.array_position(dists, F.array_min(dists)).cast("int").alias("cell"),
        )
        stats = (
            assigned.select(
                "m", "cell", F.posexplode("sub").alias("p", "valf")
            )
            .groupBy("m", "cell", "p")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("valf").cast("double") * 1000000 + F.lit(0.5)).cast("long")).alias("s"),
            )
            .collect()
        )
        new_books = [[list(c) for c in book] for book in books]
        for r in stats:
            new_books[r["m"]][r["cell"] - 1][r["p"]] = (r["s"] / 1000000.0) / r["n"]
        books = new_books
    return books


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Encode every vector to its PQ code array (1-based sub-centroid
    ids, first index on exact ties) plus the exact reconstruction
    error Σₘ dist²(subₘ, chosen centroidₘ) = ‖v‖² + Σₘ min-scoreₘ.

    Scale: one Arrow matrix pass (M·K padded dots) per row, pure
    map-side — no shuffle; output is (id, 8 small ints, 1 double),
    the at-rest representation an ADC search scans instead of raw
    vectors."""
    books = books or PQ_BOOKS
    c2s, padded = _pq_c2(books), _pq_padded(books)
    base = fan_out(emb.select(id_col, vec_col)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        dot(vec_col, vec_col).alias("v2"),
    )
    # materialize the UDF output as its own column so the M argmins
    # reference an attribute, not M copies of the UDF call
    dotted = base.withColumn("_dots", matrix_dots_arrow(F.col("vec"), padded))
    scores = [_pq_scores(F.col("_dots"), m, c2s) for m in range(len(books))]
    codes = F.array(*[F.array_position(s, F.array_min(s)).cast("long") for s in scores])
    min_total = F.array_min(scores[0])
    for s in scores[1:]:
        min_total = min_total + F.array_min(s)
    return dotted.select(
        "vec_id",
        codes.alias("codes"),
        F.round(F.col("v2") + min_total, 6).alias("recon_err"),
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search: the corpus is scanned as CODES
    (8 small ints/row), never as vectors; each query carries its M·K
    score table and ranks corpus rows by Σₘ table[m][codeₘ] — the
    classic IVF-PQ/FAISS ADC formulation as a broadcast join + fold.

    approx_dist²(q, x) = ‖q‖² + Σₘ (−2·dot(q_subₘ, cₘ) + ‖cₘ‖²)
    evaluated at x's codes. Scale: the only corpus-sized input is the
    code table (32× smaller than raw float32 vectors); queries (with
    their 128-double tables) broadcast; ranking is one window over
    the scored stream. Output is the algorithm's answer — the oracle
    runs the same algorithm, so the check is strict."""
    books = books or PQ_BOOKS
    c2s, padded = _pq_c2(books), _pq_padded(books)
    m_count, k_count = len(books), len(books[0])
    codes = pq_encode(corpus, id_col, vec_col, books=books).select(
        F.col("vec_id").alias("c_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        dot(vec_col, vec_col).alias("q2"),
        matrix_dots_arrow(F.col(vec_col), padded).alias("_qdots"),
    )
    qscores = q.select("q_id", "q2", _adc_table(c2s))
    scored = F.broadcast(qscores).join(codes).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        _adc_dist(m_count, k_count).alias("adist"),
    )
    return _topk(scored, k, "adist", ascending=True, long_rank=True)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ — the composed billion-vector architecture: corpus rows
    carry (cell, codes) only; queries probe their ``n_probe`` nearest
    coarse cells and rank the cell's rows by the PQ lookup-table fold.
    Identical routing to :func:`ivf_topk`, identical ranking to
    :func:`pq_adc_topk`; at rest the corpus is bucketed by cell and
    stored as codes — the scan is 32× smaller than raw vectors AND
    touches only n_probe/n_cells of the table.
    """
    books = books or PQ_BOOKS
    c2s, padded = _pq_c2(books), _pq_padded(books)
    m_count, k_count = len(books), len(books[0])

    # corpus: coarse cell + PQ codes, both from map-side Arrow passes
    base = fan_out(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("vec")
    )
    with_scores = base.withColumn("_ivf", _cell_scores("vec")).withColumn(
        "_dots", matrix_dots_arrow(F.col("vec"), padded)
    )
    pq_scores = [_pq_scores(F.col("_dots"), m, c2s) for m in range(m_count)]
    codes = F.array(*[F.array_position(s, F.array_min(s)).cast("long") for s in pq_scores])
    c = with_scores.select(
        "c_id",
        F.array_position("_ivf", F.array_min("_ivf")).cast("long").alias("cell"),
        codes.alias("codes"),
    )

    # queries: the shared IVF probe (as in ivf_topk) + the flat M·K
    # ADC score table
    q0 = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        dot(vec_col, vec_col).alias("q2"),
        matrix_dots_arrow(F.col(vec_col), padded).alias("_qdots"),
    )
    q = _probe_cells(q0, n_probe, "q_vec", "q_id", "q2", _adc_table(c2s))
    scored = F.broadcast(q).join(c, "cell").select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        _adc_dist(m_count, k_count).alias("adist"),
    )
    return _topk(scored, k, "adist", ascending=True, long_rank=True)


def ivf_pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    candidates: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Two-stage retrieval — the production IVF-PQ deployment shape:
    stage 1 scans codes only (:func:`ivf_pq_topk`, ``candidates`` per
    query), stage 2 fetches raw vectors for just those candidate ids
    and re-ranks by exact cosine. The corpus-sized scan never touches
    vectors; the exact math runs on |queries|·candidates rows — the
    same candidates-then-verify economics as the dedup family.
    """
    cand = ivf_pq_topk(
        queries, corpus, k=candidates, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, books=books,
    ).select("query_id", "neighbor_id")
    qv = _with_norm(queries.withColumnRenamed(id_col, "vec_id"), vec_col, "q")
    cv = _with_norm(corpus.withColumnRenamed(id_col, "vec_id"), vec_col, "c")
    scored = (
        F.broadcast(cand)
        .join(cv, cand.neighbor_id == cv.c_id)
        .join(F.broadcast(qv), F.col("query_id") == qv.q_id)
        .select("query_id", "neighbor_id", _cosine("q", "c").alias("cos"))
    )
    return _topk(scored, k, "cos", long_rank=True)


def semantic_dedup_flags(
    emb: DataFrame,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_override: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, *SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication*): coarse-cluster the
    corpus, then look for semantic duplicates only WITHIN each
    cluster. Output one row per vector — (id, cell, keep) — where
    keep=0 iff some same-cell vector with a smaller id has cosine ≥
    ``tau``.

    The drop rule is the *existential* form, not the paper's greedy
    chain: it is order-free, engine-portable (a plain EXISTS
    self-join in the oracle), and conservative for dedup (it drops a
    superset of the greedy survivors' casualties — a vector similar
    only to an already-dropped one is still dropped). The threshold
    compare uses the RAW cosine on both engines (no rounding): the
    sequential-fold discipline makes the doubles bit-identical, and
    cosine is not an output column.

    Scale shape — the paper's own: cell assignment is map-side (one
    Arrow matrix-dot against the broadcast k×dim quantizer); the
    corpus crosses ONE exchange keyed on cell; each cluster then
    computes its similarity matrix locally inside ``applyInPandas``
    (row-blocked so peak memory is O(block·cellsize·dim), not
    cellsize²·dim). Per-cluster work is O(cellsize²·dim), so the
    DEFAULT sizes the quantizer from the corpus itself:
    ``k = semantic_dedup_k(count)`` (held target cell size — the
    SemDeDup k ∝ N recipe), with the deterministic closed-form
    :func:`centroids` quantizer so the DuckDB twin derives the
    identical cells from ``count(*)`` alone. The one-scalar ``count``
    is a metadata-cheap driver fetch, the same price as broadcasting
    the quantizer. A deployment that trains its quantizer instead
    passes ``centroids_override=train_ivf_centroids(...)`` (the
    scale probe's ``semantic_dedup_ktrained`` variant measures that
    path). No pair join ever materializes.
    """
    import numpy as np
    import pandas as pd

    if centroids_override is None:
        centroids_override = centroids(n_cells=semantic_dedup_k(emb.count()))
    assigned = (
        fan_out(emb.select(id_col, vec_col))
        .withColumn("scores", _cell_scores(vec_col, centroids_override))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            F.array_position(F.col("scores"), F.array_min("scores")).cast("long").alias("cell"),
        )
    )

    def _cell_flags(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        # sequential-fold norm — same associativity as vectors.norm
        nm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        n = len(ids)
        keep = np.ones(n, dtype=np.int32)
        block = 128
        for lo in range(1, n, block):
            hi = min(lo + block, n)
            # sequential-fold pairwise dots, accumulated DIM-AT-A-TIME:
            # acc starts at 0.0 and adds per-dimension products in
            # order, which is the identical IEEE association as the
            # cumsum-over-dim form (0.0 + p0 == p0), at O(block·cols)
            # peak memory instead of materializing the full
            # (block, cols, dim) product tensor twice (multiply +
            # cumsum) — that 64× memory-traffic blowup is what made
            # 32 concurrent cell workers swing 18–84 s at the ×16
            # probe scale. Columns stop at hi: row j only ever
            # consults cols < j <= hi, and each (j, i) dot is computed
            # independently, so the trim changes no compared value.
            acc = np.zeros((hi - lo, hi), dtype=np.float64)
            for d in range(V.shape[1]):
                acc += V[lo:hi, d, None] * V[None, :hi, d]
            cos = acc / (nm[lo:hi, None] * nm[None, :hi])
            cols = np.arange(hi)[None, :]
            rows = np.arange(lo, hi)[:, None]
            keep[lo:hi] = np.where(
                ((cos >= tau) & (cols < rows)).any(axis=1), 0, 1
            )
        return pd.DataFrame({"vec_id": ids, "cell": pdf["cell"].to_numpy(), "keep": keep})

    return (
        assigned.groupBy("cell")
        .applyInPandas(_cell_flags, "vec_id long, cell long, keep int")
        .select(F.col("vec_id").alias(id_col), "cell", "keep")
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pool: int = 10,
    k: int = 3,
    lam: float = 0.7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's ``pool`` most-similar candidates, greedily
    select ``k`` results maximizing ``lam·rel − (1−lam)·max-sim-to-
    already-selected`` — the diversification pass a retrieval stack
    runs between ANN top-k and the prompt builder, so near-duplicate
    hits don't crowd out coverage.

    The greedy loop is UNROLLED into the plan (k is a small constant):
    each step is one query-keyed window argmax plus one join that
    extends the running max-similarity column, so all per-query work
    stays on pool-sized frames (pool² pairwise sims, computed once).
    Determinism/parity: relevance and pairwise sims are rounded to 6
    decimals up front (both engines produce identical doubles via the
    pinned fold order), every argmax breaks ties on neighbor_id, and
    the score expression is textually mirrored in the oracle twin.

    Scale: candidate generation is whatever top-k operator feeds this
    (brute-force here; ``ivf_pq_rerank_topk`` at size) — the MMR pass
    itself touches only queries×pool rows, shuffled on query_id.
    """
    mu = round(1.0 - lam, 6)
    cands = cosine_topk(queries, corpus, k=pool, vec_col=vec_col).select(
        "query_id", "neighbor_id", F.col("cos").alias("rel")
    )
    cv = cands.join(
        _with_norm(corpus, vec_col, "c"), cands.neighbor_id == F.col("c_id")
    ).select("query_id", "neighbor_id", "rel", "c_vec", "c_norm")
    a, b = cv.alias("a"), cv.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("a_id"),
            F.col("b.neighbor_id").alias("b_id"),
            F.round(_cosine("a.c", "b.c"), 6).alias("sim"),
        )
    )

    def argmax(df: DataFrame, score: F.Column) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(score.desc(), F.col("neighbor_id"))
        return (
            df.withColumn("mmr", score)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    sims_s = sims.select(
        F.col("query_id").alias("_sq"), "a_id", "b_id", "sim"
    )
    picks = [argmax(cands, F.lit(lam) * F.col("rel"))]
    rem = cands
    for _ in range(1, k):
        last = picks[-1].select("query_id", F.col("neighbor_id").alias("_pick"))
        had_msim = "msim" in rem.columns
        step = (
            rem.join(last, "query_id")
            .filter(F.col("neighbor_id") != F.col("_pick"))
            .join(
                sims_s,
                (F.col("_sq") == F.col("query_id"))
                & (F.col("a_id") == F.col("neighbor_id"))
                & (F.col("b_id") == F.col("_pick")),
            )
            .select(
                "query_id",
                "neighbor_id",
                "rel",
                (
                    F.greatest(F.col("msim"), F.col("sim")) if had_msim else F.col("sim")
                ).alias("msim"),
            )
        )
        rem = step
        picks.append(argmax(step, F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("msim")))

    out = None
    for i, p in enumerate(picks, start=1):
        # mmr stays UNROUNDED: rel and msim are 6dp-rounded up front,
        # so lam·rel − mu·msim is bit-identical IEEE math in both
        # engines — but a final round(·, 6) can land exactly on a
        # half-tie (e.g. 0.7×0.371485 = 0.2600395) where Spark's
        # HALF_UP-on-shortest-repr and DuckDB's binary-double rounding
        # disagree by one ulp of the 6th digit (the r06 sf0.01 red).
        row = p.select(
            "query_id",
            F.lit(i).cast("long").alias("rank"),
            "neighbor_id",
            "rel",
            "mmr",
        )
        out = row if out is None else out.unionByName(row)
    return out

"""Arrow-batched (pandas UDF) twins of the portable text hashes.

Why these exist: the pure-expression forms in ``functions.text`` are
correct but evaluate through Spark's *interpreted* higher-order-function
path (``aggregate``/``transform`` have no whole-stage codegen), and
composing them (``shingle_hashes(token_hashes(..))``) inlines the
token-hash subtree once per ``element_at`` — an O(shingles × chars)
re-computation. At bench scale that made MinHash-LSH ~150× slower than
the same math in a single Python pass.

These UDFs compute the *same* hash values (same tokenizer regex, same
polynomial fold, same shingle combiner — constants imported from
``functions.text``) in one O(chars) pass per document, shipped via
Arrow batches. The DuckDB oracle fragments are unchanged: the hash is
engine-portable by construction, so Spark-expression, pandas-UDF, and
DuckDB-SQL all agree bit-for-bit (tests assert this at sf0.01).

Scale note (100 TB): this is the documented Pandas-UDF hot path —
per-executor Python workers stream Arrow record batches, no driver
involvement, no shuffle; cost is linear in corpus bytes and
embarrassingly parallel across input splits.

Single-invocation contract: every kernel is returned through
``asNondeterministic()``. The VALUES are deterministic (pinned
against the expression forms); the flag exists purely to stop
Catalyst duplicating the kernel — a ``filter(size(udf_col) > 0)``
above a ``fan_out`` otherwise gets predicate-pushed below the
Exchange carrying its OWN ArrowEvalPython, so every document was
tokenized twice, with the filter copy running on the scan's task
layout instead of the rebalanced one (found r06: every dedup-family
plan carried the stacked double-eval). This is the documented Spark
mechanism for exactly-once UDF evaluation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from gmall_realtime2021_spark.functions.text import (
    POLY_MOD,
    POLY_MULT,
    SHINGLE_MULT,
    py_tokenize as _py_tokens,  # shared twin of text.tokenize (incl. CJK bigrams)
)

__all__ = [
    "bigram_pair_rows_arrow",
    "token_tf_arrow",
    "tokenize_arrow",
    "gate_signals_arrow",
    "shingle_hash_set_arrow",
    "shingle_hashes_arrow",
    "shingles_and_minhash_arrow",
    "simhash_arrow",
]


#: Token → poly-hash memo shared by every kernel in this module (r13
#: optimization, guide §4.2): natural-language token universes are
#: Zipf-distributed, so almost every call after warm-up is a dict hit
#: instead of an O(chars) interpreted fold (measured 0.27 → 0.07 s for
#: the whole sf0.1 corpus single-core). Bounded: cleared wholesale at
#: the cap (~25 MB of short strings at 2^18 entries) so a pathological
#: corpus of unique random tokens cannot grow a reused Python worker
#: without bound. Workers are single-threaded, so no lock is needed;
#: value identity is a pure-function memo (pinned in
#: tests/test_properties.py::test_py_poly_memo_is_value_identical).
_POLY_MEMO: dict[str, int] = {}
_POLY_MEMO_CAP = 1 << 18


def _py_poly(t: str) -> int:
    """Twin of ``text.poly_hash`` (left fold over code points)."""
    h = _POLY_MEMO.get(t)
    if h is None:
        h = 0
        for ch in t:
            h = (h * POLY_MULT + ord(ch)) % POLY_MOD
        if len(_POLY_MEMO) >= _POLY_MEMO_CAP:
            _POLY_MEMO.clear()
        _POLY_MEMO[t] = h
    return h


def _py_shingles(hs: list[int], n: int) -> list[int]:
    """Twin of ``text.shingle_hashes``."""
    out = []
    for i in range(len(hs) - n + 1):
        acc = hs[i]
        for k in range(1, n):
            acc = (acc * SHINGLE_MULT + hs[i + k]) % POLY_MOD
        out.append(acc)
    return out


def tokenize_arrow(col: Column) -> Column:
    """``array<string>`` tokens, one Arrow pass — the value twin of
    ``text.tokenize`` (same units, same CJK bigram expansion; equality
    pinned in tests/test_adversarial.py). Exists because the
    expression form pays interpreted-HOF overhead per token unit
    (regexp_extract_all + per-unit transform/zip_with/flatten): on the
    CJK-heavy corpus that made ``keyword_stats`` +72% over its frozen
    floor in r03. One linear Python pass per doc via Arrow batches is
    the same trade every dedup hot path already makes."""

    @F.pandas_udf(ArrayType(StringType()))
    def _f(texts: pd.Series) -> pd.Series:
        return texts.map(_py_tokens, na_action="ignore")

    return _f.asNondeterministic()(col)


def token_tf_arrow(col: Column) -> Column:
    """``struct<dl, toks, tfs>`` — document length plus per-DISTINCT-
    token term frequencies, in the same single Arrow pass as
    :func:`tokenize_arrow` (identical tokenizer; ``Counter`` insertion
    order keeps the output deterministic). Exists for the inverted-
    index build (r13, guide §2.3): emitting ``tf`` from the tokenize
    pass lets ``operators.retrieval.doc_postings`` skip the
    ``groupBy(c_id, dl, tok)`` exchange over every exploded token
    occurrence (~500k rows at sf0.1) and shuffle one pre-counted row
    per (doc, distinct token) instead (~116k). NULL/empty texts yield
    dl=0 and are filtered by the caller, matching ``tokenize_arrow``'s
    null contract."""

    @F.pandas_udf("struct<dl: bigint, toks: array<string>, tfs: array<bigint>>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        dls: list[int] = []
        tokss: list[list[str]] = []
        tfss: list[list[int]] = []
        for s in texts:
            if s is None or (isinstance(s, float) and pd.isna(s)):
                dls.append(0)
                tokss.append([])
                tfss.append([])
                continue
            toks = _py_tokens(s)
            c = Counter(toks)
            dls.append(len(toks))
            tokss.append(list(c.keys()))
            tfss.append(list(c.values()))
        return pd.DataFrame({"dl": dls, "toks": tokss, "tfs": tfss})

    return _f.asNondeterministic()(col)


def gate_signals_arrow(col: Column, marker_sets: dict[str, tuple[str, ...]]) -> Column:
    """All token-derived quality-gate signals in ONE Arrow pass:
    ``struct<token_ct, distinct_ct, top_ct, <one long per marker set>>``.

    Value twin of the expression forms used by
    ``plans.corpus.corpus_quality_gate`` — ``size(toks)``,
    ``size(array_distinct(toks))``, ``functions.text.mode_count``
    (0 for empty docs), and ``size(filter(toks, isin(set)))`` for each
    named marker set. One ``Counter`` per document derives every
    signal, so the cost is O(tokens) per doc instead of seven
    interpreted-HOF passes over the token array (the same
    expression→Arrow trade that took ``keyword_stats`` 2.76→0.79 s).
    Equality with the expression forms is pinned in
    tests/test_text_functions.py.
    """
    from collections import Counter

    names = list(marker_sets)
    fsets = [frozenset(marker_sets[n]) for n in names]
    fields = ", ".join(
        f"{n}: long" for n in ["token_ct", "distinct_ct", "top_ct", *names]
    )

    @F.pandas_udf(f"struct<{fields}>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        cols: dict[str, list[int]] = {
            "token_ct": [],
            "distinct_ct": [],
            "top_ct": [],
            **{n: [] for n in names},
        }
        for s in texts:
            if s is None:
                # Expression-twin under this repo's pinned
                # spark.sql.ansi.enabled=false: size(NULL array) is -1
                # for every size()-derived signal, while mode_count
                # propagates NULL. Matching those values exactly (not
                # emitting all-NULL) keeps the struct a drop-in value
                # twin for ANY consumer, not just the gate filter —
                # pinned with a NULL row in
                # test_gate_signals_arrow_matches_expression_forms.
                for k in cols:
                    cols[k].append(None if k == "top_ct" else -1)
                continue
            c = Counter(_py_tokens(s))
            cols["token_ct"].append(sum(c.values()))
            cols["distinct_ct"].append(len(c))
            cols["top_ct"].append(max(c.values()) if c else 0)
            # membership over DISTINCT tokens × their multiplicity —
            # cheaper than a per-token probe on repetitive docs
            for n, fs in zip(names, fsets):
                cols[n].append(sum(ct for t, ct in c.items() if t in fs))
        return pd.DataFrame(cols)

    return _f.asNondeterministic()(col)


def shingle_hash_set_arrow(col: Column, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes (first-occurrence order, matching
    ``array_distinct``) of a text column, as ``array<bigint>``."""

    @F.pandas_udf(ArrayType(LongType()))
    def _f(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: list(dict.fromkeys(_py_shingles([_py_poly(t) for t in _py_tokens(s)], n))),
            na_action="ignore",
        )

    return _f.asNondeterministic()(col)


def shingle_hashes_arrow(col: Column, n: int = 3) -> Column:
    """ALL n-gram shingle hashes of a text column in position order,
    duplicates kept, as ``array<bigint>`` — the multiplicity-preserving
    twin of :func:`shingle_hash_set_arrow` (span-level dedup needs one
    element per token *position*, not per distinct shingle). Value twin
    of ``text.shingle_hashes`` / ``oracle_fragments.sql_shingle_hashes``."""

    @F.pandas_udf(ArrayType(LongType()))
    def _f(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: _py_shingles([_py_poly(t) for t in _py_tokens(s)], n),
            na_action="ignore",
        )

    return _f.asNondeterministic()(col)


def shingles_and_minhash_arrow(col: Column, n: int, coeffs: list[tuple[int, int]]) -> Column:
    """One Arrow pass: distinct shingle hashes AND the k-permutation
    MinHash signature, as ``struct<sh: array<bigint>, mh: array<bigint>>``.

    mh_i = min over shingles of (aᵢ·h + bᵢ) mod POLY_MOD — identical
    to the expression form in ``operators.dedup.minhash_signature``
    (integer arithmetic, exact in int64: a·h < 2⁶²). Empty docs get
    sh=[] and a NULL mh (callers filter on size(sh)).
    """
    import numpy as np

    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    @F.pandas_udf("struct<sh: array<long>, mh: array<long>>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        sh_out, mh_out = [], []
        for s in texts:
            if s is None:  # NULL text propagates (expression-twin behavior)
                sh_out.append(None)
                mh_out.append(None)
                continue
            sh = list(dict.fromkeys(_py_shingles([_py_poly(t) for t in _py_tokens(s)], n)))
            sh_out.append(sh)
            if sh:
                H = np.array(sh, dtype=np.int64)[None, :]
                mh_out.append(((A * H + B) % POLY_MOD).min(axis=1).tolist())
            else:
                mh_out.append(None)
        return pd.DataFrame({"sh": sh_out, "mh": mh_out})

    return _f.asNondeterministic()(col)


def simhash_arrow(col: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over token poly-hashes; NULL for docs with
    no tokens (callers filter). bit_j = sign of Σ (((h>>j)&1)*2 − 1),
    identical to the expression form in ``operators.dedup`` — here the
    bits×tokens bit-count matrix is one numpy broadcast instead of a
    Python double loop (hashes are < 2³¹, so int64 shifts are exact)."""
    import numpy as np

    shifts = np.arange(bits, dtype=np.int64)
    block = 1 << 16  # cap the (tokens × bits) transient at ~16 MB per doc

    @F.pandas_udf(LongType())
    def _f(texts: pd.Series) -> pd.Series:
        def one(s: str):
            hs = [_py_poly(t) for t in _py_tokens(s)]
            if not hs:
                return None
            ones = np.zeros(bits, dtype=np.int64)
            for i in range(0, len(hs), block):  # blocked: bounded memory on huge docs
                H = np.asarray(hs[i : i + block], dtype=np.int64)
                ones += ((H[:, None] >> shifts) & 1).sum(axis=0)
            # Σ(±1) > 0  ⇔  ones > n/2
            return int((((2 * ones > len(hs)).astype(np.int64)) << shifts).sum())

        return texts.map(one, na_action="ignore")

    return _f.asNondeterministic()(col)


#: Salt prefix of the wide SimHash's SECOND 31-bit token hash (the
#: bloom/CMS ``bf{j}:``/``cm{i}:`` salting recipe) — pinned here so
#: the DuckDB oracle twin and the kernel cannot drift.
SIMHASH_WIDE_SALT = "w2:"


def simhash_wide_arrow(col: Column, bits: int = 62) -> Column:
    """WIDE SimHash fingerprint (33..62 bits) for content-scale
    corpora — the Manku-et-al configuration the 32-bit family cannot
    reach: ``poly_hash`` carries only 31 bits of entropy, so the wide
    fingerprint concatenates TWO salted poly hashes per token,
    ``h = poly(t) + (poly('w2:' + t) << 31)`` (< 2^62, sign bit never
    touched), and takes the per-bit majority over that 62-bit value.
    Bit algebra identical to :func:`simhash_arrow`; one Arrow pass.

    Why it exists: at 31 effective bits the block-pair band join's
    composite keys carry ~13 bits — against millions of DISTINCT
    fingerprints the candidate stage is quadratic no matter how the
    blocks are cut (measured: SCALEPROBE_DEDUP_r08 content/sh_cand).
    At 62 bits the same k=3 budget gives ~25-bit composite keys and
    the candidate stage stays pair-output-sized.
    """
    import numpy as np

    if not (32 < bits <= 62):
        raise ValueError(f"wide simhash needs bits in (32, 62], got {bits}")
    shifts = np.arange(bits, dtype=np.int64)
    block = 1 << 15  # cap the (tokens × bits) transient per doc

    @F.pandas_udf(LongType())
    def _f(texts: pd.Series) -> pd.Series:
        def one(s: str):
            toks = _py_tokens(s)
            if not toks:
                return None
            hs = [
                _py_poly(t) + (_py_poly(SIMHASH_WIDE_SALT + t) << 31)
                for t in toks
            ]
            ones = np.zeros(bits, dtype=np.int64)
            for i in range(0, len(hs), block):
                H = np.asarray(hs[i : i + block], dtype=np.int64)
                ones += ((H[:, None] >> shifts) & 1).sum(axis=0)
            return int((((2 * ones > len(hs)).astype(np.int64)) << shifts).sum())

        # nullable Int64: a NULL or zero-token doc in the batch would
        # otherwise turn the series into float64 and round the 62-bit
        # fingerprints
        return pd.Series(
            [None if t is None else one(t) for t in texts], dtype="Int64"
        )

    return _f.asNondeterministic()(col)


def bigram_pair_rows_arrow(col: Column) -> Column:
    """``array<struct<w:bigint, b:bigint>>`` — per position i, the
    i-th token's hash and the (i, i+1) bigram shingle hash, one Arrow
    pass. The combined kernel exists so ``lm_bigram_score`` feeds ONE
    posexplode from ONE UDF evaluation: splitting it into
    ``token_hashes`` + ``shingle_hashes`` puts the UDF on both sides
    of the Generate and Catalyst extracts TWO ArrowEvalPython nodes —
    every document tokenized twice (the same double-eval trade
    ``shingles_and_minhash_arrow`` documents). Values are identical
    to the expression forms (same ``_py_poly`` / ``SHINGLE_MULT``
    fold as ``text.shingle_hashes`` with n=2)."""
    from pyspark.sql.types import StructField, StructType

    schema = ArrayType(
        StructType([StructField("w", LongType()), StructField("b", LongType())])
    )

    @F.pandas_udf(schema)
    def _f(texts: pd.Series) -> pd.Series:
        def rows(s: str):
            hh = [_py_poly(t) for t in _py_tokens(s)]
            return [
                (hh[i], (hh[i] * SHINGLE_MULT + hh[i + 1]) % POLY_MOD)
                for i in range(len(hh) - 1)
            ]

        return texts.map(rows, na_action="ignore")

    return _f.asNondeterministic()(col)

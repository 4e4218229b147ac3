"""Property-based tests (hypothesis) for the algorithmically subtle
operators — the places where fixture data alone under-exercises edge
cases: hash portability on arbitrary unicode, as-of tie/absence
semantics on adversarial event orderings, packing invariants.

Spark jobs are expensive per example, so each hypothesis example is a
*batch* of generated rows and max_examples stays small — breadth comes
from the batch size, depth from shrinking on failure.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gmall_realtime2021_spark.functions.text import POLY_MOD, POLY_MULT, poly_hash
from gmall_realtime2021_spark.plans import get_plans

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# printable-ish unicode incl. multibyte, excluding surrogates; a
# second arm draws from the CJK Unified block so the tokenizer's
# bigram path is property-exercised, not just example-pinned
TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=1, max_codepoint=0x2FFF, blacklist_categories=("Cs",)),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF),
    ),
    max_size=120,
)


@given(strings=st.lists(TEXT, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_poly_hash_matches_duckdb_on_arbitrary_unicode(spark, strings):
    """The portable rolling hash must agree between Spark's HOF fold
    and DuckDB's list_reduce for ANY string — it anchors every
    fingerprint/dedup/sampling oracle."""
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i long, s string")
    got = {r.i: r.h for r in sdf.select("i", poly_hash(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    expected = {}
    for i, s in enumerate(strings):
        (expected[i],) = con.execute(
            f"""
            SELECT CASE WHEN len(codes) = 0 THEN 0
                   ELSE list_reduce(codes, (acc, c) -> (acc * {POLY_MULT} + c) % {POLY_MOD}) END
            FROM (SELECT list_transform(regexp_extract_all(?, '(?s).'),
                         c -> CAST(ascii(c) AS BIGINT)) AS codes)
            """,
            [s],
        ).fetchone()
    con.close()
    assert got == expected


@given(strings=st.lists(TEXT, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_py_poly_memo_is_value_identical(strings):
    """The r13 token→hash memo in the Arrow kernels must be a pure
    observation cache: ``_py_poly`` returns the raw fold's value for
    ANY string, on cold misses, warm hits, AND across a cap-triggered
    wholesale clear (exercised here by shrinking the cap to force
    evictions mid-stream)."""
    from gmall_realtime2021_spark.functions import text_arrow as ta

    def raw(t: str) -> int:
        acc = 0
        for ch in t:
            acc = (acc * POLY_MULT + ord(ch)) % POLY_MOD
        return acc

    old_cap, old_memo = ta._POLY_MEMO_CAP, dict(ta._POLY_MEMO)
    try:
        ta._POLY_MEMO_CAP = 2  # force clears every few inserts
        ta._POLY_MEMO.clear()
        for s in strings:
            assert ta._py_poly(s) == raw(s)  # cold or post-clear
            assert ta._py_poly(s) == raw(s)  # warm hit
    finally:
        ta._POLY_MEMO_CAP = old_cap
        ta._POLY_MEMO.clear()
        ta._POLY_MEMO.update(old_memo)


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=50),  # ts seconds (collisions likely)
        st.sampled_from(["purchase", "view", "click"]),
    ),
    min_size=1,
    max_size=60,
)


@given(events=EVENTS)
@settings(**SETTINGS)
def test_asof_merge_equals_bruteforce(spark, tmp_path_factory, events):
    """The merge-based as-of (union + ordered window) must equal the
    quadratic brute force for any interleaving — including equal
    timestamps across and within sides (ties: view-before-purchase
    at the same instant, max event_id among same-ts views)."""
    # tables.load expects the real fixture's TIMESTAMP(NANOS)-as-long
    # encoding for events.ts — write epoch nanos to match.
    rows = [
        (
            i,
            (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts)).value,
            uid,
            et,
            float(i),
            None,
        )
        for i, (uid, ts, et) in enumerate(events)
    ]
    tmp = str(tmp_path_factory.mktemp("asof_prop"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(
        pdf, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    pdf["ts"] = pd.to_datetime(pdf["ts"])

    out = {
        r.event_id: (r.view_event_id, r.view_ts)
        for r in get_plans()["asof_attribution"].build(spark, tmp).collect()
    }

    # brute force in pandas
    purch = pdf[pdf.event_type == "purchase"]
    views = pdf[pdf.event_type == "view"]
    expected = {}
    for _, p in purch.iterrows():
        prior = views[(views.user_id == p.user_id) & (views.ts <= p.ts)]
        if len(prior):
            best = prior.sort_values(["ts", "event_id"]).iloc[-1]
            expected[p.event_id] = (
                best.event_id,
                best.ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            )
        else:
            # unmatched purchases emit typed sentinels, not NULLs
            # (plans/olap.py asof_attribution: -1 / '')
            expected[p.event_id] = (-1, "")
    assert out == expected


DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # source idx
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=1, max_size=90),
    ),
    min_size=1,
    max_size=30,
)


@given(docs=DOCS)
@settings(**SETTINGS)
def test_chunk_packing_invariants(spark, tmp_path_factory, docs):
    """Packing invariants for any corpus: per-source prefix sums are
    consistent (tokens_before = running sum of prior chunk_lens in
    (doc_id, chunk_idx) order), pack_id = floor(before/context), and
    chunk lengths tile each document exactly."""
    from gmall_realtime2021_spark.plans.corpus import CHUNK_S, CHUNK_W, PACK_CONTEXT

    rows = [
        (i, " ".join(words), "en", f"src{s}", len(" ".join(words)))
        for i, (s, words) in enumerate(docs)
    ]
    tmp = str(tmp_path_factory.mktemp("pack_prop"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    out = get_plans()["chunk_packing"].build(spark, tmp).collect()

    by_source: dict[str, list] = {}
    for r in out:
        by_source.setdefault(r.source, []).append(r)
    for source, rs in by_source.items():
        rs.sort(key=lambda r: (r.doc_id, r.chunk_idx))
        running = 0
        for r in rs:
            assert r.tokens_before == running, (source, r)
            assert r.pack_id == running // PACK_CONTEXT, (source, r)
            running += r.chunk_len

    # chunks tile each doc: lens are W except a shorter tail per stride
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, (s, words) in enumerate(docs):
        n = len(words)
        expect_lens = [min(CHUNK_W, n - off) for off in range(0, n, CHUNK_S)]
        got_lens = [r.chunk_len for r in sorted(by_doc[i], key=lambda r: r.chunk_idx)]
        assert got_lens == expect_lens, (i, n)


@given(strings=st.lists(TEXT, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_tokenize_and_shingles_match_duckdb(spark, strings):
    """Tokenizer + 3-gram shingles agree with the DuckDB fragments on
    arbitrary unicode — the contract every text oracle builds on."""
    from gmall_realtime2021_spark.functions.text import shingles, tokenize
    from gmall_realtime2021_spark.plans.oracle_fragments import sql_shingles, sql_tokens

    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i long, s string")
    got = {
        r.i: (r.toks, r.sh)
        for r in sdf.select(
            "i",
            tokenize(F.col("s")).alias("toks"),
            shingles(tokenize(F.col("s")), 3).alias("sh"),
        ).collect()
    }
    con = duckdb.connect()
    sql = f"SELECT {sql_tokens('?')} AS t, {sql_shingles(sql_tokens('?'), 3)} AS s"
    n_params = sql.count("?")
    for i, s in enumerate(strings):
        toks, sh = con.execute(sql, [s] * n_params).fetchone()
        assert got[i] == (toks, sh), (s, got[i], (toks, sh))
    con.close()


def test_duplicate_clusters_chain_graph_converges_within_cap(spark):
    """The adversarial case for min-label propagation: a single path
    graph 0-1-2-...-n, diameter n. Plain propagation needs n rounds;
    the pointer-jumping implementation must converge within its
    ceil(log2(n))+8 cap (operators/dedup.duplicate_clusters) and
    still label every node with the global min."""
    from gmall_realtime2021_spark.operators.dedup import duplicate_clusters

    n = 200  # diameter 199 >> log2(200)+8 ≈ 16 — plain propagation would hit the cap
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    out = duplicate_clusters(docs, pairs)
    assert {(r.doc_id, r.cluster_id) for r in out.collect()} == {(i, 0) for i in range(n)}


@pytest.mark.slow
def test_duplicate_clusters_permuted_chain_converges(spark):
    """Deep chain with PERMUTED node ids: the minimum sits mid-chain
    and pointer-jumping's label(label) lookups cross the id order
    arbitrarily (labels are doc ids used as join keys — a permutation
    exercises that indirection, which the 0..n chain never does).
    Every node must still get the global-min label within the cap."""
    from gmall_realtime2021_spark.operators.dedup import duplicate_clusters

    n = 257
    # deterministic permutation of 0..n-1 (multiplicative shuffle mod prime)
    perm = [(i * 113) % n for i in range(n)]
    docs = spark.createDataFrame([(p,) for p in perm], "doc_id long")
    pairs = spark.createDataFrame(
        [(min(perm[i], perm[i + 1]), max(perm[i], perm[i + 1])) for i in range(n - 1)],
        "a long, b long",
    )
    out = duplicate_clusters(docs, pairs)
    assert {(r.doc_id, r.cluster_id) for r in out.collect()} == {(p, 0) for p in perm}


def test_duplicate_clusters_cap_raises_loudly(spark):
    """If the loop can't reach a fixpoint inside its round cap it must
    raise, not keep shuffling — pin with an explicit 1-round budget on
    a graph that needs more than one round."""
    import pytest as _pytest

    from gmall_realtime2021_spark.operators.dedup import duplicate_clusters

    docs = spark.range(8).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], "a long, b long")
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        duplicate_clusters(docs, pairs, max_rounds=1)


#: The tokenizer's native domain (KeywordUtil.java:18-41 tokenizes
#: Chinese e-commerce search keywords): pure CJK, mixed CJK/latin,
#: lone chars, fullwidth punctuation, non-CJK multibyte neighbors
#: (katakana/emoji are OUTSIDE the bigram block and must drop).
CJK_CASES = [
    "小米手机 iPhone12",
    "苹果手机苹果平板电脑",
    "米",
    "华为：智能手机，平板。Apple 手表 watch2",
    "a米b",
    "米米",
    "",
    "漢字テスト emoji 🙂",
]


def test_tokenizer_tri_twin_on_cjk(spark):
    """tokenize (Spark expr), tokenize_arrow (the keyword_stats hot
    path), py_tokenize (Python UDF twin) and sql_tokens (DuckDB
    oracle) must agree token-for-token on CJK — pins the r2
    CJK-bigram feature end-to-end so a refactor of any one twin
    fails loudly (the keyword_stats_sql lesson)."""
    from gmall_realtime2021_spark.functions.text import py_tokenize, tokenize
    from gmall_realtime2021_spark.functions.text_arrow import tokenize_arrow
    from gmall_realtime2021_spark.plans.oracle_fragments import sql_tokens

    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(CJK_CASES)], "i long, s string")
    got = {r.i: r.t for r in sdf.select("i", tokenize(F.col("s")).alias("t")).collect()}
    got_arrow = {
        r.i: r.t for r in sdf.select("i", tokenize_arrow(F.col("s")).alias("t")).collect()
    }
    assert got_arrow == got
    con = duckdb.connect()
    for i, s in enumerate(CJK_CASES):
        (duck,) = con.execute(f"SELECT {sql_tokens('?')}", [s]).fetchone()
        assert got[i] == duck == py_tokenize(s), (s, got[i], duck, py_tokenize(s))
    con.close()
    # pin the semantics themselves, not just twin agreement
    assert py_tokenize("小米手机 iPhone12") == ["小米", "米手", "手机", "iphone12"]
    assert py_tokenize("米") == ["米"]
    assert py_tokenize("a米b") == ["a", "米", "b"]
    assert py_tokenize("漢字テスト") == ["漢字"]  # katakana outside the block


def test_gate_signals_arrow_matches_expression_forms(spark):
    """gate_signals_arrow (the corpus_quality_gate hot path) must equal
    the expression forms it replaced — size/array_distinct/mode_count/
    filter-isin over tokenize — signal-for-signal, on CJK, repetitive,
    marker-bearing, and empty docs."""
    from gmall_realtime2021_spark.functions.text import mode_count, tokenize
    from gmall_realtime2021_spark.functions.text_arrow import gate_signals_arrow
    from gmall_realtime2021_spark.plans.textops import LANG_MARKERS, STOPWORDS

    cases = CJK_CASES + [
        "the cat and the dog and the end",
        "der die das und the the",
        "el la los de los de",
        "spam spam spam spam spam",
        "",
        None,  # NULL text: size-forms → -1 (non-ANSI), mode_count → NULL
    ]
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, s string")
    toks = tokenize(F.col("s"))
    expected = {
        r.i: (r.token_ct, r.distinct_ct, r.top_ct, r.stop_ct, r.en_ct, r.de_ct, r.es_ct)
        for r in sdf.select(
            "i",
            F.size(toks).cast("long").alias("token_ct"),
            F.size(F.array_distinct(toks)).cast("long").alias("distinct_ct"),
            mode_count(toks).cast("long").alias("top_ct"),
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long").alias("stop_ct"),
            F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))).cast("long").alias("en_ct"),
            F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["de"]))).cast("long").alias("de_ct"),
            F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["es"]))).cast("long").alias("es_ct"),
        ).collect()
    }
    got = {
        r.i: (
            r.g.token_ct, r.g.distinct_ct, r.g.top_ct,
            r.g.stop_ct, r.g.en_ct, r.g.de_ct, r.g.es_ct,
        )
        for r in sdf.select(
            "i",
            gate_signals_arrow(
                F.col("s"),
                {
                    "stop_ct": STOPWORDS,
                    "en_ct": LANG_MARKERS["en"],
                    "de_ct": LANG_MARKERS["de"],
                    "es_ct": LANG_MARKERS["es"],
                },
            ).alias("g"),
        ).collect()
    }
    assert got == expected


@given(docs=DOCS)
@settings(**SETTINGS)
def test_corpus_split_is_content_deterministic(spark, tmp_path_factory, docs):
    """Split assignment is a pure function of content: shuffling row
    order / repartitioning must not move any document between
    train/val/test (the reproducibility property the content-hash
    design exists for)."""
    rows = [
        (i, " ".join(words), "en", f"src{s}", len(" ".join(words)))
        for i, (s, words) in enumerate(docs)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    tmp1 = str(tmp_path_factory.mktemp("split_a"))
    tmp2 = str(tmp_path_factory.mktemp("split_b"))
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp1, "documents.parquet")
    )
    spark.createDataFrame(pdf.iloc[::-1]).repartition(7).write.mode("overwrite").parquet(
        os.path.join(tmp2, "documents.parquet")
    )
    build = get_plans()["corpus_split"].build
    a = {(r.source, r.split): r.doc_ct for r in build(spark, tmp1).collect()}
    b = {(r.source, r.split): r.doc_ct for r in build(spark, tmp2).collect()}
    assert a == b


BEHAVIOR_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=1_300_000),  # ts seconds (~15 days)
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=60,
)


def _write_events(spark, tmp_path_factory, events, label):
    rows = [
        (
            i,
            (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts)).value,
            uid,
            et,
            float(i),
            None,
        )
        for i, (uid, ts, et) in enumerate(events)
    ]
    tmp = str(tmp_path_factory.mktemp(label))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    spark.createDataFrame(
        pdf, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return tmp, pdf


@given(events=BEHAVIOR_EVENTS)
@settings(**SETTINGS)
def test_funnel_equals_bruteforce(spark, tmp_path_factory, events):
    """Strict-order funnel on arbitrary interleavings — equal
    timestamps across stages must NOT convert (strict '>'), and stages
    with an empty previous stage must be suppressed, exactly like the
    quadratic reference."""
    tmp, pdf = _write_events(spark, tmp_path_factory, events, "funnel_prop")
    out = {
        r.stage: (r.users, r.conversion)
        for r in get_plans()["funnel_conversion"].build(spark, tmp).collect()
    }

    v_ts, c_ts, p_ts = {}, {}, {}
    for uid, g in pdf.groupby("user_id"):
        views = g[g.event_type == "view"]
        if not len(views):
            continue
        v_ts[uid] = views.ts.min()
        clicks = g[(g.event_type == "click") & (g.ts > v_ts[uid])]
        if not len(clicks):
            continue
        c_ts[uid] = clicks.ts.min()
        purch = g[(g.event_type == "purchase") & (g.ts > c_ts[uid])]
        if len(purch):
            p_ts[uid] = purch.ts.min()
    expected = {}
    if v_ts:
        expected["view"] = (len(v_ts), 1.0)
        expected["click"] = (len(c_ts), round(len(c_ts) / len(v_ts), 6))
        if c_ts:
            expected["purchase"] = (len(p_ts), round(len(p_ts) / len(c_ts), 6))
    assert out == expected


@given(events=BEHAVIOR_EVENTS)
@settings(**SETTINGS)
def test_cohort_retention_equals_bruteforce(spark, tmp_path_factory, events):
    """Cohort triangle: per-user first activity date and week offsets,
    counted once per (user, cohort, offset) no matter how many events
    land in that week."""
    tmp, pdf = _write_events(spark, tmp_path_factory, events, "cohort_prop")
    out = {
        (r.cohort_date, r.week_offset): r.active_users
        for r in get_plans()["cohort_retention"].build(spark, tmp).collect()
    }

    pdf["d"] = pdf.ts.dt.normalize()
    daily = pdf[["user_id", "d"]].drop_duplicates()
    firsts = daily.groupby("user_id").d.min()
    expected = {}
    seen = set()
    for _, row in daily.iterrows():
        first = firsts[row.user_id]
        key = (row.user_id, first.strftime("%Y-%m-%d"), (row.d - first).days // 7)
        if key in seen:
            continue
        seen.add(key)
        k = key[1:]
        expected[k] = expected.get(k, 0) + 1
    assert out == expected


@given(tokens=st.lists(st.sampled_from(["a", "b", "c", "dd", "e"]), max_size=60))
@settings(**SETTINGS)
def test_mode_count_equals_counter(spark, tokens):
    """The sort+run-length mode_count kernel must equal
    collections.Counter's most-common count for any multiset
    (including empty → 0) — it anchors the repetition gates."""
    from collections import Counter

    from gmall_realtime2021_spark.functions.text import mode_count

    sdf = spark.createDataFrame([(0, tokens)], "i long, toks array<string>")
    got = sdf.select(mode_count(F.col("toks")).alias("m")).collect()[0]["m"]
    expected = max(Counter(tokens).values()) if tokens else 0
    assert got == expected, (tokens, got, expected)


PURCHASES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # user_id
        st.integers(min_value=0, max_value=20),   # day offset
        st.floats(min_value=0.5, max_value=99.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


@given(purchases=PURCHASES)
@settings(**SETTINGS)
def test_gap_fill_invariants(spark, tmp_path_factory, purchases):
    """Gap-fill invariants for any purchase history: the grid is
    dense per user (first..last purchase day, no holes), observed
    rows carry that day's exact cents sum, carried rows repeat the
    most recent observed value, and no row precedes the first
    observation. r11: the plan is scoped to the ``DASH_FROM``/
    ``DASH_TO`` analysis window (served by partition pruning), so the
    reference computation filters purchases to the same window —
    generated day offsets straddle the lower bound, pinning the
    boundary."""
    rows = [
        (
            i,
            (pd.Timestamp("2024-01-01") + pd.Timedelta(days=d, hours=3)).value,
            uid,
            "purchase",
            float(v),
            None,
        )
        for i, (uid, d, v) in enumerate(purchases)
    ]
    tmp = str(tmp_path_factory.mktemp("gapfill_prop"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(
        pdf, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))

    out = get_plans()["gap_fill_daily"].build(spark, tmp).collect()

    import math
    from collections import defaultdict

    from gmall_realtime2021_spark.plans.olap import DASH_FROM, DASH_TO

    lo = (pd.Timestamp(DASH_FROM) - pd.Timestamp("2024-01-01")).days
    hi = (pd.Timestamp(DASH_TO) - pd.Timestamp("2024-01-01")).days
    daily = defaultdict(int)
    for _, (uid, d, v) in enumerate(purchases):
        if lo <= d < hi:
            daily[(uid, d)] += math.floor(float(np_float32(v)) * 100 + 0.5)

    by_user = defaultdict(list)
    for r in out:
        by_user[r.user_id].append(r)
    assert set(by_user) == {uid for uid, _ in daily}
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.day)
        # dense grid of consecutive calendar days, starting at the
        # user's first observed day and ending at the last
        d0 = pd.Timestamp(rs[0].day)
        for i, r in enumerate(rs):
            assert pd.Timestamp(r.day) == d0 + pd.Timedelta(days=i), (uid, r)
        user_days = {d for (u, d), _ in daily.items() if u == uid}
        assert (d0 - pd.Timestamp("2024-01-01")).days == min(user_days)
        assert (pd.Timestamp(rs[-1].day) - pd.Timestamp("2024-01-01")).days == max(user_days)
        last_val = None
        for r in rs:
            day_off = (pd.Timestamp(r.day) - pd.Timestamp("2024-01-01")).days
            if (uid, day_off) in daily:
                assert r.observed == 1
                expect = round(daily[(uid, day_off)] / 100, 2)
                assert abs(r.filled_spend - expect) < 1e-9, (uid, day_off, r, expect)
                last_val = r.filled_spend
            else:
                assert r.observed == 0
                assert r.filled_spend == last_val, (uid, day_off, r, last_val)


def np_float32(v: float) -> float:
    """Round-trip through float32 like the parquet value column."""
    import numpy as np

    return float(np.float32(v))


@given(docs=st.lists(st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=14), min_size=2, max_size=12))
@settings(**SETTINGS)
def test_duplicate_span_stats_equals_bruteforce(spark, docs):
    """Span-dedup math vs a direct python reference on tiny random
    corpora over an 8-letter token alphabet (dense collisions by
    construction): per-doc span totals, duplicated-position counts
    and coverage union must match exactly. n=3 keeps spans plentiful
    at these lengths."""
    from collections import Counter

    from gmall_realtime2021_spark.operators.dedup import duplicate_span_stats, span_scrub_stats

    n = 3
    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(corpus, "doc_id long, text string")

    spans = {
        i: [tuple(toks[p : p + n]) for p in range(len(toks) - n + 1)]
        for i, toks in enumerate(docs)
    }
    ndocs = Counter()
    for i, ss in spans.items():
        for s in set(ss):
            ndocs[s] += 1

    got = {r.doc_id: r for r in duplicate_span_stats(sdf, n=n).collect()}
    for i, ss in spans.items():
        if not ss:
            assert i not in got
            continue
        dup = sum(1 for s in ss if ndocs[s] > 1)
        assert got[i].n_spans == len(ss) and got[i].dup_spans == dup, (i, ss)

    scrub = {r.doc_id: r for r in span_scrub_stats(sdf, n=n).collect()}
    for i, ss in spans.items():
        if not ss:
            assert i not in scrub
            continue
        covered = set()
        for p, s in enumerate(ss):
            if ndocs[s] > 1:
                covered.update(range(p, p + n))
        assert scrub[i].token_ct == len(docs[i])
        assert scrub[i].covered_ct == len(covered), (i, ss)
        assert scrub[i].clean_ct == len(docs[i]) - len(covered)


@given(
    vecs=st.lists(
        st.lists(st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=16,
    )
)
@settings(**SETTINGS)
def test_semantic_dedup_flags_equal_bruteforce(spark, vecs):
    """The existential drop rule vs a direct python reference on
    random low-dim vectors with 2 toy centroids: identical cell
    assignment (first-min tie rule) and keep flags. Zero vectors are
    filtered (norm 0 would divide)."""
    import math

    from gmall_realtime2021_spark.operators.similarity import semantic_dedup_flags

    vecs = [v for v in vecs if any(abs(x) > 1e-6 for x in v)]
    if len(vecs) < 2:
        return
    cents = [[0.5, 0.0, 0.0, 0.0], [-0.5, 0.0, 0.0, 0.0]]
    tau = 0.8
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_flags(sdf, tau=tau, centroids_override=cents).collect()
    }

    def f32(x):
        import struct

        return struct.unpack("f", struct.pack("f", x))[0]

    V = [[f32(x) for x in v] for v in vecs]
    cell = []
    for v in V:
        scores = [sum(((a - c) ** 2 for a, c in zip(v, cc))) for cc in cents]
        # engine scores are -2*dot + |c|^2 (no |v|^2) — rank-equal
        escore = [-2 * sum(a * c for a, c in zip(v, cc)) + sum(c * c for c in cc) for cc in cents]
        cell.append(escore.index(min(escore)) + 1)
    keep = []
    for j, v in enumerate(V):
        nj = math.sqrt(sum(x * x for x in v))
        dropped = False
        for i in range(j):
            if cell[i] != cell[j]:
                continue
            ni = math.sqrt(sum(x * x for x in V[i]))
            cos = sum(a * b for a, b in zip(V[i], v)) / (ni * nj)
            if cos >= tau - 1e-9:  # float-fold slack at the boundary
                dropped = True
        keep.append(0 if dropped else 1)
    for j in range(len(V)):
        assert got[j][0] == cell[j], f"cell mismatch vec {j}"
        # boundary slack: only assert when python's cos is clearly on
        # one side of tau (the engine's fold order differs in the last
        # ulp; exact-boundary draws are measure-zero but hypothesis
        # loves to find them)
        assert got[j][1] == keep[j] or abs_cos_near_tau(V, cell, j, tau), f"keep mismatch vec {j}"


def abs_cos_near_tau(V, cell, j, tau, eps=1e-6):
    import math

    nj = math.sqrt(sum(x * x for x in V[j]))
    for i in range(j):
        if cell[i] != cell[j]:
            continue
        ni = math.sqrt(sum(x * x for x in V[i]))
        cos = sum(a * b for a, b in zip(V[i], V[j])) / (ni * nj)
        if abs(cos - tau) < eps:
            return True
    return False


SESSION_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=20000),  # ts seconds (gaps straddle 30/60 min)
        st.sampled_from(["purchase", "view", "click"]),
    ),
    min_size=1,
    max_size=50,
)


@pytest.mark.slow
@given(events=SESSION_EVENTS)
@settings(**SETTINGS)
def test_dynamic_gap_sessions_equal_bruteforce(spark, events):
    """The running-max dynamic-gap sessionizer must split exactly like
    a per-user pure-Python replay of the same rule (new session iff
    ts >= max reach of ALL prior events) for arbitrary event sets —
    including ts collisions, where the (ts, event_id) tie-break
    decides which gap extends the reach first."""
    from collections import defaultdict

    from gmall_realtime2021_spark.plans import get_plans

    df = spark.createDataFrame(
        [(i, u, t, ty) for i, (u, t, ty) in enumerate(events)],
        "event_id long, user_id long, secs long, event_type string",
    ).selectExpr(
        "event_id",
        "user_id",
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,secs) AS ts",
        "event_type",
        "CAST(0.0 AS DOUBLE) AS value",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = sorted(
            (r.user_id, r.session_id, r.n_events, r.n_purchases)
            for r in get_plans()["dynamic_gap_sessions"].build(spark, d).collect()
        )

    # pure-Python replay of the exact rule
    by_user = defaultdict(list)
    for i, (u, t, ty) in enumerate(events):
        by_user[u].append((t * 1_000_000, i, ty))
    expected = []
    for u, evs in by_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        reach = None
        sid = 0
        bucket = []
        for us, _i, ty in evs:
            if reach is None or us >= reach:
                sid += 1
                bucket.append([u, sid, 0, 0])
            bucket[-1][2] += 1
            bucket[-1][3] += 1 if ty == "purchase" else 0
            gap = 60 if ty == "purchase" else 30
            r = us + gap * 60 * 1_000_000
            reach = r if reach is None else max(reach, r)
        expected.extend(map(tuple, bucket))
    assert got == sorted(expected)


BASKETS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # orderkey
        st.integers(min_value=0, max_value=8),  # partkey
    ),
    min_size=1,
    max_size=40,
)


@given(baskets=BASKETS)
@settings(**SETTINGS)
def test_basket_pair_combinations_equal_bruteforce(spark, baskets):
    """The HOF array-combinations pair emitter (basket_pairs' map-side
    form) must produce exactly the brute-force C(n,2) pair multiset
    over per-order DISTINCT parts — the slice(i+2..) index arithmetic
    is the part worth property-testing (off-by-one there silently
    drops or duplicates pairs)."""
    from collections import Counter
    from itertools import combinations

    df = spark.createDataFrame(baskets, "l_orderkey long, l_partkey long")
    baskets_df = (
        df.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = baskets_df.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda x, i: F.transform(
                        F.slice("parts", i + 2, F.size("parts")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    got = Counter((r.a, r.b) for r in pairs.collect())

    expected = Counter()
    by_order = {}
    for ok, pk in baskets:
        by_order.setdefault(ok, set()).add(pk)
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            expected[(a, b)] += 1
    assert got == expected


def test_range_prefix_sums_matches_global_window(spark):
    """range_prefix_sums ≡ sum OVER (ORDER BY) — same cumulative sums,
    totals and implied ranks on a frame deliberately larger than its
    partition count, including duplicate sort values disambiguated by
    the unique tie-break column."""
    from pyspark.sql import Window

    from gmall_realtime2021_spark.operators.prefix import range_prefix_sums

    rows = [(i, (i * 37) % 11, ((i * 13) % 7) * 10) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, grpish long, val long")
    order = [F.desc("val"), F.asc("k")]
    got = {
        r.k: (r.cum_val, r.total_val, r.cum_one)
        for r in range_prefix_sums(
            df, order, {"val": F.col("val"), "one": F.lit(1)}, n_partitions=16
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r.k: (r.c, r.t, r.rn)
        for r in df.select(
            "k",
            F.sum("val").over(w).alias("c"),
            F.sum("val").over(Window.partitionBy()).alias("t"),
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rn"),
        ).collect()
    }
    assert got == expected


@pytest.mark.slow
@given(docs=st.lists(st.lists(st.sampled_from("abcd"), min_size=1, max_size=6), min_size=2, max_size=14))
@settings(**SETTINGS)
def test_simhash_pairs_equal_bruteforce(spark, docs):
    """The fingerprint-grain pair formulation (band join over DISTINCT
    fingerprints + intra/cross expansion) vs brute-force all-pairs
    hamming over the same fingerprints. The 4-letter alphabet at these
    lengths forces fingerprint collisions, so both the identical-
    fingerprint self-join branch and the cross-fingerprint expansion
    are exercised, and every pair must appear EXACTLY once (the
    rewrite has no doc-grain dropDuplicates to hide double-emits)."""
    from gmall_realtime2021_spark.operators.dedup import (
        release_caches,
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(corpus, "doc_id long, text string")
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(sdf).collect()}
    expected = {}
    ids = sorted(fps)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                expected[(a, b)] = h
    rows = simhash_near_dup_pairs(sdf, max_hamming=3).collect()
    release_caches()
    got = [((r.a, r.b), r.hamming) for r in rows]
    assert len(got) == len(set(p for p, _ in got)), "pair emitted twice"
    assert dict(got) == expected


@pytest.mark.slow
@given(
    docs=st.lists(st.lists(st.sampled_from("abcdef"), min_size=0, max_size=10), min_size=3, max_size=12)
)
@settings(**SETTINGS)
def test_bm25_equals_bruteforce(spark, docs):
    """BM25 nano-unit scores vs an independent pure-Python reference
    on tiny random corpora (6-letter alphabet → dense term overlap).
    Pins the df grain (documents, not postings rows), the dl/avgdl
    normalization, the sqrt-idf surrogate, and the fixed-point
    rounding — none of which the oracle can independently witness
    (it shares the formula; this reference does not share code)."""
    import math

    from gmall_realtime2021_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        bm25_micro,
        doc_postings,
        query_terms,
    )

    corpus_rows = [(i + 100, " ".join(toks)) for i, toks in enumerate(docs[1:])]
    query_rows = [(0, " ".join(docs[0]))]
    cdf = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    qdf = spark.createDataFrame(query_rows, "doc_id long, text string")
    got = {
        (r.q_id, r.c_id): r.micro
        for r in bm25_micro(doc_postings(cdf), query_terms(qdf)).collect()
    }

    # independent reference
    toks_by_doc = {i + 100: docs[1:][i] for i in range(len(docs) - 1)}
    nonempty = {d: t for d, t in toks_by_doc.items() if t}
    n_docs = len(nonempty)
    if n_docs == 0 or not docs[0]:
        assert got == {}
        return
    avgdl = float(sum(len(t) for t in nonempty.values())) / n_docs
    df = {}
    for t in nonempty.values():
        for tok in set(t):
            df[tok] = df.get(tok, 0) + 1
    want = {}
    for c_id, toks in nonempty.items():
        s = 0
        for tok in set(docs[0]):
            tf = toks.count(tok)
            if tf == 0:
                continue
            idf = math.sqrt((n_docs - df[tok] + 0.5) / (df[tok] + 0.5))
            contrib = idf * (
                (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1 - BM25_B + BM25_B * (len(toks) / avgdl)))
            )
            s += math.floor(contrib * 1000000000 + 0.5)
        if s or any(tok in toks for tok in set(docs[0])):
            want[(0, c_id)] = s
    assert got == want


def _arrow_doc_dl(docs):
    """``(dl,)`` from the Arrow tokenize pass ``doc_postings`` uses
    (same dl>0 gate): the spec ``doc_dl_expr`` is pinned against."""
    from gmall_realtime2021_spark.functions.text_arrow import token_tf_arrow

    tt = docs.select(token_tf_arrow(F.col("text")).alias("tt"))
    return tt.filter(F.col("tt.dl") > 0).select(F.col("tt.dl").alias("dl"))


@given(
    docs=st.lists(st.lists(st.sampled_from("abcdef"), min_size=0, max_size=10), min_size=3, max_size=12)
)
@settings(**SETTINGS)
def test_bm25_per_doc_dl_stats_path_is_value_identical(spark, docs):
    """r13-opt internals pin: ``bm25_micro``'s two corpus-stats paths —
    a per-doc ``dl`` frame (the Arrow spec above) vs the stored-index
    default (distinct doc set re-derived from the postings) — must
    score every (query, doc) pair to the SAME nano-unit micro. This is
    the invariant that lets the incrementally-maintained postings
    store and the batch index build stay interchangeable after the
    stats branch was re-keyed off the per-doc frame."""
    from gmall_realtime2021_spark.operators.retrieval import (
        bm25_micro,
        doc_postings,
        query_terms,
    )

    corpus_rows = [(i + 100, " ".join(toks)) for i, toks in enumerate(docs[1:])]
    query_rows = [(0, " ".join(docs[0]))]
    cdf = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    qdf = spark.createDataFrame(query_rows, "doc_id long, text string")
    postings, qterms = doc_postings(cdf), query_terms(qdf)
    via_postings = {
        (r.q_id, r.c_id): r.micro for r in bm25_micro(postings, qterms).collect()
    }
    via_doc_dl = {
        (r.q_id, r.c_id): r.micro
        for r in bm25_micro(postings, qterms, per_doc_dl=_arrow_doc_dl(cdf)).collect()
    }
    assert via_doc_dl == via_postings


@given(strings=st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_doc_dl_expr_is_value_identical_to_arrow_doc_dl(spark, strings):
    """r14-opt pin: ``doc_dl_expr`` (JVM regexp+fold token count, the
    BM25 stats leg's no-Python path) must produce the SAME (dl,)
    multiset as the Arrow ``doc_dl`` twin for ANY unicode text,
    including NULLs, empties, and CJK runs (whose units expand to L−1
    bigrams) — i.e. the same per-doc token count AND the same dl>0
    document gate. It must also equal len(py_tokenize(s)) directly."""
    from gmall_realtime2021_spark.functions.text import py_tokenize
    from gmall_realtime2021_spark.operators.retrieval import doc_dl_expr

    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "doc_id long, text string"
    )
    via_arrow = sorted(r.dl for r in _arrow_doc_dl(sdf).collect())
    via_expr = sorted(r.dl for r in doc_dl_expr(sdf).collect())
    want = sorted(
        n for n in (len(py_tokenize(s)) for s in strings if s is not None) if n > 0
    )
    assert via_expr == via_arrow == want


@given(n=st.integers(min_value=1, max_value=60), k=st.integers(min_value=1, max_value=12))
@settings(**SETTINGS)
def test_ntile_from_rank_matches_window_ntile(spark, n, k):
    """The rank-arithmetic ntile (the distributed replacement for the
    single-partition window) must equal Spark's own ntile(k) for every
    (n, k) — including k > n, the uneven-remainder cases, and k = 1."""
    from pyspark.sql import Window

    from gmall_realtime2021_spark.operators.prefix import ntile_from_rank

    df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
    got = {
        r.rn: r.t
        for r in df.select(
            "rn", ntile_from_rank(F.col("rn"), F.lit(n), F.lit(k)).cast("int").alias("t")
        ).collect()
    }
    w = Window.orderBy("rn")
    want = {r.rn: r.t for r in df.select("rn", F.ntile(k).over(w).alias("t")).collect()}
    assert got == want


def test_hamming_band_pairs_pigeonhole_recall_exhaustive(spark):
    """The 100%-recall guarantee of the pigeonhole byte-band join,
    pinned against brute force: on a deterministic fingerprint set
    engineered with many pairs at every Hamming distance around the
    budget (including bit flips that straddle band boundaries and the
    sign bit), the band join must return EXACTLY the pairs brute-force
    enumeration finds at hamming <= max — no misses (recall), no
    extras (the verify filter), at both 32 and 64 bits."""
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs

    def signed(h: int, bits: int) -> int:
        return h - (1 << bits) if bits == 64 and h >= 1 << 63 else h

    for bits, max_h in ((32, 3), (62, 3), (64, 6)):
        base = [0, (1 << bits) - 1, 0x5A5A5A5A5A5A5A5A & ((1 << bits) - 1)]
        fps = []
        for b in base:
            fps.append(b)
            for k in range(0, bits, max(1, bits // 10)):
                fps.append(b ^ (1 << k))                      # 1 bit
                fps.append(b ^ (0b11 << k) & ((1 << bits) - 1))  # 2 adjacent bits
                # max_h bits spread across bands, and max_h+1 (must NOT pair with b)
                spread = 0
                for j in range(max_h + 1):
                    spread |= 1 << ((k + j * 9) % bits)
                fps.append(b ^ (spread & ~(1 << ((k + max_h * 9) % bits))))
                fps.append(b ^ spread)
        fps = sorted(set(fps))
        rows = [(i, signed(f, bits)) for i, f in enumerate(fps)]
        df = spark.createDataFrame(rows, "doc_id long, fp long")
        got = {
            (r.a, r.b, r.hamming)
            for r in hamming_band_pairs(
                df, max_hamming=max_h, id_col="doc_id", fp_col="fp", bits=bits
            ).collect()
        }
        mask = (1 << bits) - 1
        want = set()
        for i in range(len(fps)):
            for j in range(i + 1, len(fps)):
                h = bin((fps[i] ^ fps[j]) & mask).count("1")
                if h <= max_h:
                    want.add((i, j, h))
        assert got == want and len(want) > 20, (bits, len(want), len(got))


@given(strings=st.lists(TEXT, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_dhash_and_afp_fake_match_duckdb_on_arbitrary_unicode(strings):
    """The image/audio fake-path fingerprints must agree with their
    generated DuckDB expressions for ANY unicode text (code-point
    grid sampling / window means + signed-64 packing) — the contract
    the image_phash/audio_fingerprint oracle plans build on. Pure
    driver-side property (kernel helpers vs DuckDB), no Spark job."""
    from gmall_realtime2021_spark.multimodal.afp import py_afp_fake
    from gmall_realtime2021_spark.multimodal.phash import py_dhash_fake
    from gmall_realtime2021_spark.plans.audio import _afp_fp_cte
    from gmall_realtime2021_spark.plans.images import _CELLS, _dhash_pack_sql

    dhash_sql = f"""
    WITH img AS (SELECT regexp_extract_all(?, '(?s).') AS cs),
    grid AS (
        SELECT list_transform(generate_series(0, {_CELLS - 1}),
                              i -> ascii(cs[(i * len(cs)) // {_CELLS} + 1])) AS g
        FROM img WHERE len(cs) > 0
    )
    SELECT {_dhash_pack_sql()} AS h FROM grid
    """
    afp_sql = (
        "WITH "
        + _afp_fp_cte(
            "SELECT 1 AS media_id, list_transform(regexp_extract_all(?, '(?s).'), c -> ascii(c)) AS env"
        )
        + " SELECT afp FROM fp"
    )
    con = duckdb.connect()
    for s in strings:
        want_d, want_a = py_dhash_fake(s), py_afp_fake(s)
        got_d = con.execute(dhash_sql, [s]).fetchall()
        got_a = con.execute(afp_sql, [s]).fetchall()
        if len(s) == 0:
            assert want_d is None and got_d == []
            assert want_a is None and got_a == []
        else:
            assert got_d and got_d[0][0] == want_d, s
            assert got_a and got_a[0][0] == want_a, s
    con.close()


@pytest.mark.slow
@settings(max_examples=40, deadline=None)
@given(st.data())
def test_vectorized_media_kernels_match_scalar_spec(data):
    """r08 vectorization gate: the numpy dHash / AFP / PNG-unfilter
    kernels must be BIT-IDENTICAL to the scalar spec implementations
    (kept verbatim in tools/media_kernel_bench.py) on arbitrary
    geometries — including tiny images (cell windows overlap) and
    short/multi-channel audio — and on every PNG filter type."""
    import sys

    sys.path.insert(0, ".")
    from tools.media_kernel_bench import (
        encode_png,
        encode_wav,
        ref_afp_real,
        ref_decode_png,
        ref_dhash_real,
    )

    from gmall_realtime2021_spark.multimodal.afp import py_afp_real
    from gmall_realtime2021_spark.multimodal.phash import py_dhash_real
    from gmall_realtime2021_spark.multimodal.png import decode_png

    w = data.draw(st.integers(1, 40), label="w")
    h = data.draw(st.integers(1, 40), label="h")
    ch = data.draw(st.sampled_from([1, 2, 3, 4]), label="ch")
    pixels = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch),
            label="pixels",
        )
    )
    assert py_dhash_real(w, h, ch, pixels) == ref_dhash_real(w, h, ch, pixels)

    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=1, max_size=h), label="filters"
    )
    png = encode_png(w, h, ch, pixels, filters)
    assert decode_png(png) == ref_decode_png(png)
    assert decode_png(png)[3] == pixels

    n_ch = data.draw(st.sampled_from([1, 2]), label="n_ch")
    sw = data.draw(st.sampled_from([1, 2]), label="sw")
    n = data.draw(st.integers(1, 300), label="n_samples") * n_ch
    lo, hi = (0, 255) if sw == 1 else (-32768, 32767)
    samples = data.draw(
        st.lists(st.integers(lo, hi), min_size=n, max_size=n), label="samples"
    )
    wav = encode_wav(8000, n_ch, sw, samples)
    got, want = py_afp_real(wav), ref_afp_real(wav)
    assert got == want and got is not None


def test_derived_partsupp_construction_properties(spark):
    """The derived partsupp relation must behave like TPC-H's: exactly
    PS_PER_PART rows per part with DISTINCT suppliers (the stride
    1 + S//4 yields distinct residues mod S for the fixture supplier
    counts), every suppkey a real supplier key, availability in
    [1, 9999] and supply cost cents in [100, 100000]. Validated
    INDEPENDENTLY of the DuckDB twin (which derives the same
    construction and would agree even on a degenerate one)."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.plans.tpch4 import PS_PER_PART, derived_partsupp
    from gmall_realtime2021_spark.tables import load

    sf_dir = "/root/testdata/sf0.001"
    ps = derived_partsupp(spark, sf_dir)
    parts = load(spark, sf_dir, "part").count()
    sups = {r.s_suppkey for r in load(spark, sf_dir, "supplier").select("s_suppkey").collect()}
    per_part = ps.groupBy("ps_partkey").agg(
        F.count("*").alias("n"), F.countDistinct("ps_suppkey").alias("nd")
    )
    bad = per_part.filter((F.col("n") != PS_PER_PART) | (F.col("nd") != PS_PER_PART)).count()
    assert bad == 0 and per_part.count() == parts
    rows = ps.collect()
    assert all(r.ps_suppkey in sups for r in rows)
    assert all(1 <= r.ps_availqty <= 9999 for r in rows)
    assert all(100 <= r.ps_supplycost_cents <= 100000 for r in rows)
    # the stride's distinctness condition (k*(1 + S//4) % S != 0 for
    # k in 1..PS_PER_PART-1) holds for every fixture supplier count
    for S in (10, 100, 1000):
        step = 1 + S // PS_PER_PART
        assert all((k * step) % S != 0 for k in range(1, PS_PER_PART)), S


def test_derived_partsupp_rejects_degenerate_supplier_count(spark, tmp_path):
    """derived_partsupp fails fast (ValueError) on a supplier count
    that breaks stride distinctness (S=4: stride 2 collides at k=2),
    instead of silently emitting duplicate (ps_partkey, ps_suppkey)
    rows that both engines would agree on (ADVICE r09)."""
    import pytest

    from gmall_realtime2021_spark.plans.tpch4 import derived_partsupp

    spark.createDataFrame([(i,) for i in range(4)], "s_suppkey bigint").write.parquet(
        str(tmp_path / "supplier.parquet")
    )
    spark.createDataFrame([(i,) for i in range(1, 9)], "p_partkey bigint").write.parquet(
        str(tmp_path / "part.parquet")
    )
    with pytest.raises(ValueError, match="stride"):
        derived_partsupp(spark, str(tmp_path))


@pytest.mark.slow
def test_star_edges_match_pair_graph_on_replica_corpus(spark):
    """The bounded-output star form (r12): on a corpus whose
    duplicates are exact replicas — the copy-fixture shape the form
    exists for — the verified star edges produce the SAME connected
    components as the all-pairs graph (every replica matches its
    bucket rep at Jaccard 1), while emitting K−1 edges per K-replica
    cluster instead of K(K−1)/2. Also pins the summary grain: one row
    per dup cluster with the exact member count."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        minhash_star_edges,
        release_caches,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "colorless green ideas sleep furiously under a pale winter moon tonight",
        "entirely unrelated third document about warehouse bucket layouts here",
    ]
    rows, did = [], 0
    for i, text in enumerate(base):
        for _ in range(i + 2):  # cluster sizes 2, 3, 4
            rows.append((did, text))
            did += 1
    rows.append((did, "a singleton document that matches nothing else in this tiny corpus"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    star = minhash_star_edges(docs)
    pair = minhash_lsh_pairs(docs).select("a", "b")
    star_n, pair_n = star.count(), pair.count()
    assert star_n == (2 - 1) + (3 - 1) + (4 - 1) == 6
    assert pair_n == 1 + 3 + 6 == 10  # the K² contract the star form sheds

    cs = {r.doc_id: r.cluster_id for r in duplicate_clusters(docs, star).collect()}
    cp = {r.doc_id: r.cluster_id for r in duplicate_clusters(docs, pair).collect()}
    assert cs == cp

    summary = (
        duplicate_clusters(docs, star)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("member_ct"))
        .filter(F.col("member_ct") >= 2)
    )
    assert sorted(r.member_ct for r in summary.collect()) == [2, 3, 4]
    release_caches()


@pytest.mark.slow
def test_simhash_summary_matches_pair_graph_components(spark):
    """The simhash bounded accounting form (r13, VERDICT r12 item #5)
    is EXACT, not a star approximation: doc connectivity is a pure
    function of fingerprints (near-dup iff fp hamming <= budget;
    same-fp docs are hamming-0 connected), so components over the
    DISTINCT-FINGERPRINT edge graph expand to exactly the doc-pair
    graph's components — on an arbitrary mixed corpus (replica
    clusters, near-dup variants, singletons), the fp-grain summary
    must equal the summary computed from the full doc-pair graph."""
    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.operators.dedup import (
        duplicate_clusters,
        hamming_fp_edges,
        release_caches,
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "colorless green ideas sleep furiously under a pale winter moon tonight",
        "entirely unrelated third document about warehouse bucket layouts here",
    ]
    rows, did = [], 0
    for i, text in enumerate(base):
        for j in range(i + 2):  # cluster sizes 2, 3, 4
            # replica 0/1 verbatim; later replicas perturb one token so
            # the corpus mixes hamming-0 and small-hamming edges
            rows.append((did, text if j < 2 else text.replace("tonight", f"tonite{j}")))
            did += 1
    rows.append((did, "a singleton document that matches nothing else in this tiny corpus"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # ground truth: components of the FULL doc-pair graph
    pairs = simhash_near_dup_pairs(docs, max_hamming=3, bits=62).select("a", "b")
    truth = {r.doc_id: r.cluster_id for r in duplicate_clusters(docs, pairs).collect()}

    # the bounded form: components at fingerprint grain, expanded
    fp = simhash_fingerprints(docs, bits=62)
    nodes = fp.select(F.col("simhash").alias("f")).distinct()
    edges = hamming_fp_edges(fp, max_hamming=3, bits=62).selectExpr("fa AS a", "fb AS b")
    comp = duplicate_clusters(nodes, edges, id_col="f")
    got = (
        fp.join(comp, fp.simhash == comp.f)
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("cid"), F.collect_list("doc_id").alias("members"))
        .collect()
    )
    got_clusters = {r.cid: sorted(r.members) for r in got}

    truth_clusters: dict[int, list[int]] = {}
    for d, c in truth.items():
        truth_clusters.setdefault(c, []).append(d)
    truth_clusters = {c: sorted(ms) for c, ms in truth_clusters.items()}
    assert got_clusters == truth_clusters
    # edge economics: fp-grain edges never exceed doc-pair count, and
    # the replica mass (hamming-0 doc pairs) contributes ZERO fp edges
    assert edges.count() <= pairs.count()
    release_caches()


def test_layout_lifecycle_randomized_model_check(spark, tmp_path, monkeypatch):
    """Seeded randomized model check of the manifest-generation
    lifecycle on the day-partitioned event log: a 14-op sequence of
    day upserts (new, corrected-redelivery, and replayed batches) and
    retention expiries, validated after every op against a pure
    Python model {day: row_count}. Also holds one pre-maintenance
    reader handle across each op and asserts it still serves the
    exact pre-op total (snapshot isolation), and at the end asserts
    the generation chain is strictly increasing with every retired
    generation still on disk (grace not expired) and GC'able."""
    import random

    from pyspark.sql import functions as F

    from gmall_realtime2021_spark.sources import warehouse as W

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "3600")
    sf_dir = "/root/testdata/sf0.001"
    gen = W.ensure_partitioned_events(spark, sf_dir)
    root = W._family_root_of(gen)

    def state():
        cur = W.ensure_partitioned_events(spark, sf_dir)
        return {
            str(r.event_date): r.n
            for r in spark.read.parquet(cur)
            .groupBy("event_date")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    base_ev = spark.read.parquet(gen).drop("event_date")

    def day_batch(day: str, n: int, id_base: int):
        # real schema (incl. props map), synthetic identity + day
        return (
            base_ev.limit(n)
            .withColumn("event_id", F.col("event_id") + F.lit(id_base))
            .withColumn("ts", F.lit(f"{day} 12:00:00").cast("timestamp"))
        )

    model = state()
    rng = random.Random(7)
    id_base = 10_000_000
    gens_seen = [os.path.basename(W.ensure_partitioned_events(spark, sf_dir))]
    for step in range(14):
        pre = W.ensure_partitioned_events(spark, sf_dir)
        pre_total = sum(model.values())
        pre_reader = spark.read.parquet(pre).groupBy().count()  # snapshot handle
        op = rng.choice(["upsert_new", "upsert_redeliver", "expire"])
        if op == "upsert_new":
            day = f"2025-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"
            n = rng.randint(5, 40)
            W.upsert_event_days(spark, sf_dir, day_batch(day, n, id_base), batch_id=step)
            id_base += 1000
            model[day] = n
        elif op == "upsert_redeliver":
            day = rng.choice(sorted(model))
            n = rng.randint(1, 30)
            W.upsert_event_days(spark, sf_dir, day_batch(day, n, id_base), batch_id=step)
            id_base += 1000
            model[day] = n
        else:
            days = sorted(model)
            cut_i = rng.randint(0, len(days) - 1)
            if cut_i == 0:
                continue  # nothing to drop
            cutoff = days[cut_i]
            dropped = W.expire_event_days(spark, sf_dir, before=cutoff)
            assert dropped == days[:cut_i]
            for d in dropped:
                del model[d]
        assert state() == model, f"model divergence after step {step} ({op})"
        # the pre-op snapshot handle still serves the pre-op total
        assert pre_reader.collect()[0][0] == pre_total
        g = os.path.basename(W.ensure_partitioned_events(spark, sf_dir))
        if g != gens_seen[-1]:
            gens_seen.append(g)
    # generation chain strictly increases; every retired gen survives
    nums = [int(g.split("-")[1]) for g in gens_seen]
    assert nums == sorted(set(nums)) and len(nums) > 5
    on_disk = {d for d in os.listdir(root) if W._GEN_RE.match(d)}
    assert set(gens_seen) <= on_disk  # grace not expired: all retained
    # and the whole backlog GCs on demand
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC_GRACE_S", "0")
    removed = W.gc_layout_generations(spark, sf_dir).get("events", [])
    assert set(removed) == on_disk - {gens_seen[-1]}
    assert state() == model  # serving unaffected by the sweep


def test_token_tf_arrow_matches_tokenize_counts(spark):
    """token_tf_arrow (the r13 inverted-index hot path) must agree
    with tokenize_arrow-derived counts doc-for-doc: dl == len(tokens),
    and the (tok, tf) pairs == Counter(tokens) — so doc_postings built
    from the tf kernel emits exactly the rows the old
    explode + groupBy(c_id, dl, tok) form produced."""
    from collections import Counter

    from gmall_realtime2021_spark.functions.text import py_tokenize
    from gmall_realtime2021_spark.functions.text_arrow import token_tf_arrow

    cases = CJK_CASES + ["the cat and the cat", "a a a b", None]
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, s string"
    )
    got = {
        r.i: r.tt
        for r in sdf.select("i", token_tf_arrow(F.col("s")).alias("tt")).collect()
    }
    for i, s in enumerate(cases):
        toks = py_tokenize(s) if s is not None else []
        tt = got[i]
        assert tt.dl == len(toks), (s, tt)
        assert dict(zip(tt.toks, tt.tfs)) == dict(Counter(toks)), (s, tt)
        # insertion (first-occurrence) order — deterministic across runs
        assert list(tt.toks) == list(dict.fromkeys(toks)), (s, tt)


def test_doc_postings_rows_invariant_under_clustering(spark):
    """doc_postings(cluster_by_tok=True) and the sink's False form
    must produce identical row SETS (the clustering flag only moves
    rows between partitions), and the row set must equal the
    first-principles groupBy count over exploded tokens."""
    from gmall_realtime2021_spark.functions.text_arrow import tokenize_arrow
    from gmall_realtime2021_spark.operators.retrieval import doc_postings

    docs = spark.createDataFrame(
        [(1, "the cat and the cat"), (2, "米米 米米 b"), (3, ""), (4, None), (5, "solo")],
        "doc_id long, text string",
    )
    clustered = {tuple(r) for r in doc_postings(docs).collect()}
    flat = {tuple(r) for r in doc_postings(docs, cluster_by_tok=False).collect()}
    spec = {
        tuple(r)
        for r in (
            docs.select("doc_id", tokenize_arrow(F.col("text")).alias("toks"))
            .filter(F.size("toks") > 0)
            .select(
                F.col("doc_id").alias("c_id"),
                F.size("toks").alias("dl"),
                F.explode("toks").alias("tok"),
            )
            .groupBy("c_id", "dl", "tok")
            .agg(F.count("*").cast("double").alias("tf"))
            .collect()
        )
    }
    assert clustered == flat == spec and len(spec) > 0

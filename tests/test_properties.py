"""Property-based tests (hypothesis): the codepoint decoder and the
cross-engine hash must agree with independent Python reference
implementations on arbitrary inputs — not just the fixture values."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rust_etl_spark.functions.hashing import HASH_P
from tests.conftest import SF_SMOKE  # noqa: F401  (ensures conftest import)

_SLOW = settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))


def _decode_reference(arr):
    """Independent reimplementation of the reference chain
    (processor.rs:100-123): wrap to byte, assemble, lossy UTF-8."""
    return bytes(int(x) & 0xFF for x in arr).decode("utf-8", "replace")


#: Byte sequences that are not UTF-8: overlong, surrogate, truncated
#: 4-byte, above U+10FFFF and a never-valid byte.
_INVALID_UTF8 = [[0xC0, 0xAF], [0xED, 0xA0, 0x80], [0xF0, 0x9F], [0xF4, 0x90], [0xFF]]
_FRACTIONAL = [[-1.5, 104.9, 105.2], [-0.5, 255.999, -256.5, 1e17 + 104.0]]


@given(
    st.lists(
        st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=24),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.lists(st.floats(min_value=-(2.0**40), max_value=2.0**40), max_size=24),
        min_size=1,
        max_size=8,
    ),
)
@_SLOW
def test_decode_matches_reference_semantics(spark, arrays, doubles):
    from rust_etl_spark.operators.decode import decode_codepoint_arrays

    for ddl, arrs in (("bigint", arrays + _INVALID_UTF8), ("double", doubles + _FRACTIONAL)):
        rows = [(i, arr) for i, arr in enumerate(arrs)]
        df = spark.createDataFrame(rows, f"id long, codigo array<{ddl}>")
        got = {r["id"]: r["codigo"] for r in decode_codepoint_arrays(df).collect()}
        for i, arr in rows:
            assert got[i] == _decode_reference(arr), f"{ddl} row {i}: {arr!r}"


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, edge_list):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary small graphs (chains, cliques, self-loops,
    parallel edges)."""
    from rust_etl_spark.operators.dedup import connected_components

    edges = [(u, v) for u, v in edge_list]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["u"]: r["lbl"] for r in connected_components(df, "a", "b").collect()}
    assert got == want


def test_connected_components_chain_escalates_to_star(spark):
    """A 50-node chain is the propagation worst case: O(diameter) = 49
    rounds of min-label walking. The hybrid must escalate to
    large-star/small-star after `CC_STAR_AFTER` rounds and finish the
    whole component in O(log^2 n) star rounds — correct labels, far
    fewer total rounds than the diameter."""
    from rust_etl_spark.operators.dedup import connected_components

    n = 50
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "a long, b long")
    stats: dict = {}
    got = {
        r["u"]: r["lbl"]
        for r in connected_components(df, "a", "b", stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}  # one component, min label 0
    assert stats["plain_rounds"] == 5  # propagation alone could not finish
    assert 1 <= stats["star_rounds"] <= 10  # log-round convergence, not O(n)
    assert stats["plain_rounds"] + stats["star_rounds"] < n - 1


def test_connected_components_easy_graph_stays_in_propagation(spark):
    """Quasi-clique graphs (the near-dup shape) converge in 2-3
    propagation rounds — the star escalation must NOT trigger."""
    from rust_etl_spark.operators.dedup import connected_components

    # two 4-cliques
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    df = spark.createDataFrame(edges, "a long, b long")
    stats: dict = {}
    got = {
        r["u"]: r["lbl"]
        for r in connected_components(df, "a", "b", stats=stats).collect()
    }
    want = {**{i: 0 for i in range(4)}, **{i: 10 for i in range(10, 14)}}
    assert got == want
    assert stats["star_rounds"] == 0 and stats["plain_rounds"] <= 3


@given(
    st.lists(
        st.one_of(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            # adversarial neighborhood: values whose x*1e4 lands on .5
            st.integers(min_value=0, max_value=20000).map(lambda k: (2 * k + 1) / 20000.0),
        ),
        min_size=1,
        max_size=32,
    )
)
@_SLOW
def test_round_half_up_is_cross_engine_exact(spark, xs):
    """floor(x*10^n + 0.5)/10^n must be bit-identical between Spark and
    DuckDB on arbitrary (incl. boundary) doubles — the portability
    property plain round(double, n) lacks."""
    import duckdb

    import pyspark.sql.functions as F

    from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got = {
        r["i"]: r["r"] for r in df.select("i", round_half_up(F.col("x"), 4).alias("r")).collect()
    }
    con = duckdb.connect()
    for i, x in enumerate(xs):
        # CAST: a bare literal parses as DECIMAL in DuckDB; oracles
        # always feed round_half_up_sql a DOUBLE expression.
        want = con.execute(
            f"SELECT {round_half_up_sql(f'CAST({x!r} AS DOUBLE)', 4)}"
        ).fetchone()[0]
        assert got[i] == want, (i, xs[i], got[i], want)


@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=12, unique=True))
@_SLOW
def test_md5_long60_matches_python_hashlib(spark, tokens_list):
    """The conv(md5-prefix) hash must equal int(md5hex[:15], 16) —
    guards the Spark-side conv/substring chain against silent drift."""
    import pyspark.sql.functions as F

    from rust_etl_spark.functions.hashing import md5_long60

    df = spark.createDataFrame([(t,) for t in tokens_list], "tok string")
    got = {r["tok"]: r["h"] for r in df.select("tok", md5_long60(F.col("tok")).alias("h")).collect()}
    for t in tokens_list:
        expect = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        assert got[t] == expect, f"{t!r}"
        assert 0 <= got[t] % HASH_P < HASH_P


def test_scd2_intervals_partition_each_user_timeline(spark):
    """SCD2 output invariants, independent of the oracle: per user the
    validity intervals are non-overlapping, contiguous (each next
    valid_from equals the previous valid_to), exactly one row is
    current, and the current row carries the open-end sentinel."""
    from rust_etl_spark.plans import catalog
    from rust_etl_spark.plans.events_queries import SCD2_OPEN_END_US

    rows = catalog.get("events_scd2_build").fn(spark, "/root/testdata/sf0.001").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from_us"])
        assert sum(r["is_current"] for r in ivs) == 1, uid
        assert ivs[-1]["is_current"] == 1 and ivs[-1]["valid_to_us"] == SCD2_OPEN_END_US
        for prev, nxt in zip(ivs, ivs[1:]):
            assert prev["valid_to_us"] == nxt["valid_from_us"], uid  # contiguous
            assert prev["valid_from_us"] < prev["valid_to_us"], uid  # non-empty
            assert prev["attr_value"] != nxt["attr_value"], uid  # true change rows


def test_ohlc_envelope_invariants(spark):
    """Every OHLC bucket must satisfy low <= open/close <= high, and
    n must sum to the table's row count (no event lost or duplicated
    across buckets)."""
    from rust_etl_spark.plans import catalog
    from rust_etl_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = catalog.get("events_ohlc").fn(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"], r
        assert r["low"] <= r["close"] <= r["high"], r
        assert r["n"] >= 1
    assert sum(r["n"] for r in rows) == load_table(spark, sf, "events").count()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.integers(min_value=0, max_value=10**9),      # ts_ns
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
@_SLOW
def test_ewma_fold_matches_python_reference(spark, rows):
    """The window-collect+fold EWMA must equal a direct per-user Python
    computation of sum(vc * 2^(K-1-age)) / (100 * sum(2^(K-1-age)))
    over the last K events (cent-floor quantized)."""
    import math
    from collections import defaultdict

    from rust_etl_spark.plans.events_queries import EWMA_K, events_ewma

    data = [(i, u, t, v) for i, (u, t, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts_ns long, value double")

    import rust_etl_spark.sources.tables as tables
    orig = tables.load_table
    try:
        tables.load_table = lambda _s, _d, _n: df
        # events_ewma resolves load_table at call time via its module import
        import rust_etl_spark.plans.events_queries as eq
        eq_orig = eq.load_table
        eq.load_table = lambda _s, _d, _n: df
        got = {r["event_id"]: r["ewma"] for r in events_ewma(spark, "ignored").collect()}
    finally:
        tables.load_table = orig
        eq.load_table = eq_orig

    per_user = defaultdict(list)
    for eid, u, t, v in sorted(data, key=lambda r: (r[1], r[2], r[0])):
        per_user[u].append((eid, math.floor(v * 100)))
    for u, seq in per_user.items():
        for i, (eid, _) in enumerate(seq):
            window = seq[max(0, i - (EWMA_K - 1)): i + 1]
            s = ws = 0
            for age, (_, vc) in enumerate(reversed(window)):
                w = 2 ** (EWMA_K - 1 - age)
                s += vc * w
                ws += w
            expect = s / (100.0 * ws)
            assert got[eid] == expect, (eid, got[eid], expect)


@given(st.text(min_size=0, max_size=1400))
@_SLOW
def test_doc_chunk_tiles_the_document(spark, text):
    """Chunks must tile the doc: starts at 1, 1+stride, ...; every chunk
    is CHUNK_LEN chars except possibly the last; overlapping re-assembly
    reconstructs the original text exactly."""
    from rust_etl_spark.plans.curation_queries import CHUNK_LEN, CHUNK_STRIDE, doc_chunk
    import rust_etl_spark.plans.curation_queries as cq

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    orig = cq.load_table
    try:
        cq.load_table = lambda _s, _d, _n: df
        rows = sorted(
            (r["chunk_start"], r["chunk_len"]) for r in doc_chunk(spark, "ignored").collect()
        )
    finally:
        cq.load_table = orig

    n = len(text)
    if n == 0:
        assert rows == []
        return
    expect_starts = list(range(1, n + 1, CHUNK_STRIDE))
    assert [s for s, _ in rows] == expect_starts
    for s, ln in rows:
        assert ln == min(CHUNK_LEN, n - s + 1)
    # stride < chunk -> consecutive chunks overlap; coverage is total
    assert rows[-1][0] + rows[-1][1] - 1 == n


@given(
    st.lists(st.integers(min_value=0, max_value=10**13), min_size=1, max_size=60)
)
@_SLOW
def test_lateness_profile_two_level_prefix_matches_naive(spark, ts_list):
    """The blocked two-level running max must equal the naive
    unbounded-window lateness on arbitrary (out-of-order) streams —
    the fixture arrives sorted, so only this test exercises late
    buckets."""
    from collections import Counter

    import rust_etl_spark.plans.events_queries as eq

    import rust_etl_spark.sources as srcs

    data = [(i, t) for i, t in enumerate(ts_list)]
    df = spark.createDataFrame(data, "event_id long, ts_ns long")
    orig = eq.load_table
    orig_rows = srcs.table_rows
    try:
        # Shrink the block so the multi-block path is exercised even
        # on small hypothesis streams; the scale-aware late_block()
        # sizes off table_rows, so fake that too (the real one would
        # read the fixture dir the load_table patch bypasses).
        eq.load_table = lambda _s, _d, _n: df
        srcs.table_rows = lambda _s, _d, _n: len(data)
        orig_blk, eq.LATE_BLOCK = eq.LATE_BLOCK, 8
        try:
            got = {
                r["bucket"]: r["n"]
                for r in eq.events_lateness_profile(spark, "ignored").collect()
            }
        finally:
            eq.LATE_BLOCK = orig_blk
    finally:
        eq.load_table = orig
        srcs.table_rows = orig_rows

    hwm, expect = -1, Counter()
    for _, t in data:
        hwm = max(hwm, t)
        ms = (hwm - t) // 1_000_000
        if ms == 0:
            b = "on_time"
        elif ms < 1000:
            b = "lt_1s"
        elif ms < 10_000:
            b = "lt_10s"
        elif ms < 100_000:
            b = "lt_100s"
        elif ms < 1_000_000:
            b = "lt_1000s"
        else:
            b = "ge_1000s"
        expect[b] += 1
    assert got == dict(expect)


def test_q15_exact_money_surfaces_all_tied_winners(spark):
    """Regression for the 10x-sweep find: with raw double sums, two
    suppliers whose revenues are GENUINELY equal can land on different
    ulps per engine, and each engine elects a different 'unique' max
    winner. The exact scaled-integer form must surface BOTH, with
    identical rounded revenue."""
    from datetime import datetime

    from rust_etl_spark.plans.tpch_more import q15_top_supplier

    d = datetime(1996, 2, 1)
    # suppliers 1 and 2: identical item multisets in a different order
    # (the summation-order trap); supplier 3: strictly lower revenue
    items = [(951.13, 0.04), (120.57, 0.0), (33.99, 0.07), (808.08, 0.01)]
    li_rows = [(1, p, disc, d) for p, disc in items]
    li_rows += [(2, p, disc, d) for p, disc in reversed(items)]
    li_rows += [(3, 10.0, 0.0, d)]
    li = spark.createDataFrame(
        li_rows, "l_suppkey long, l_extendedprice double, l_discount double, l_shipdate timestamp"
    )
    supp = spark.createDataFrame(
        [(1, "Supplier#1"), (2, "Supplier#2"), (3, "Supplier#3")],
        "s_suppkey long, s_name string",
    )
    tables = {"lineitem": li, "supplier": supp}

    import rust_etl_spark.plans.tpch_more as tm

    orig = tm.load_table
    tm.load_table = lambda _s, _d, name: tables[name]  # noqa: ARG005
    try:
        got = q15_top_supplier(spark, "ignored").collect()
    finally:
        tm.load_table = orig

    assert [r["s_suppkey"] for r in got] == [1, 2], got
    assert got[0]["total_revenue"] == got[1]["total_revenue"] > 0

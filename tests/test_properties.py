"""Property-based tests (hypothesis) for the core aggregation
invariants — the class of bug the reference's own pipeline only
survives by accident (SURVEY.md §4: partial counts could be emitted
twice; correctness restored only by the master's re-aggregation)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_citation_spark.citations import CitationAnalytics

paper_ids = st.text(alphabet="0123456789", min_size=1, max_size=7)
edges_strategy = st.lists(
    st.tuples(paper_ids, paper_ids), min_size=0, max_size=60
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_citation_count_invariants(spark, edges):
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [("x", "y")],
        ["from_paper", "to_paper"],
    )
    if not edges:
        df = df.limit(0)
    ca = CitationAnalytics(df)
    counts = ca.citation_counts().collect()
    # exactly one row per key
    keys = [r["paper_id"] for r in counts]
    assert len(keys) == len(set(keys))
    # sum of per-key counts == number of edges (duplicates count)
    assert sum(r["citations"] for r in counts) == len(edges)
    # python-side oracle
    expected: dict[str, int] = {}
    for _, to in edges:
        expected[to] = expected.get(to, 0) + 1
    assert {r["paper_id"]: r["citations"] for r in counts} == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
)
def test_asof_join_matches_bisect_oracle(spark, data):
    """asof_join ≡ per-key binary search for the greatest right_ts ≤
    left_ts, on arbitrary generated timelines."""
    import bisect
    import datetime as dt

    keys = ["k1", "k2", "k3"]
    base = dt.datetime(2024, 1, 1)
    ts_strategy = st.integers(min_value=0, max_value=1000)
    left = data.draw(
        st.lists(st.tuples(st.sampled_from(keys), ts_strategy), min_size=1, max_size=25)
    )
    right = data.draw(
        st.lists(st.tuples(st.sampled_from(keys), ts_strategy), min_size=0, max_size=25)
    )
    # unique (key, ts) on the right — the operator's documented precondition
    right = list({(k, t) for k, t in right})
    from mapreduce_citation_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(left)],
        ["lid", "k", "ts"],
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=t), t) for k, t in right],
        ["k", "rts", "val"],
    ) if right else spark.createDataFrame([], "k string, rts timestamp, val long")
    got = {
        r["lid"]: r["val"]
        for r in asof_join(ldf, rdf, "k", "k", "ts", "rts", ["val"]).collect()
    }
    per_key: dict[str, list[int]] = {}
    for k, t in right:
        per_key.setdefault(k, []).append(t)
    for v in per_key.values():
        v.sort()
    want = {}
    for i, (k, t) in enumerate(left):
        arr = per_key.get(k, [])
        j = bisect.bisect_right(arr, t)
        want[i] = arr[j - 1] if j else None
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(st.tuples(paper_ids, paper_ids), min_size=1, max_size=40))
def test_top_cited_order_matches_reference_sort(spark, edges):
    """top_cited must equal python's sorted(..., key=(-count, id))[:k]
    — the master's exact ordering rule (master.py:218)."""
    df = spark.createDataFrame(edges, ["from_paper", "to_paper"])
    got = [
        (r["paper_id"], r["citations"])
        for r in CitationAnalytics(df).top_cited(30).collect()
    ]
    counts: dict[str, int] = {}
    for _, to in edges:
        counts[to] = counts.get(to, 0) + 1
    want = sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:30]
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_shingle_int_hash_cross_engine_parity(spark, words):
    """The 60-bit md5-prefix integer hash (the base of the MinHash
    permutation family) is bit-identical between Spark's
    conv(hex, 16, 10) and DuckDB's '0x'-prefixed cast, for arbitrary
    printable-ASCII shingles."""
    import duckdb

    from mapreduce_citation_spark.functions.text_funcs import (
        shingle_int_hash_duck,
        shingle_int_hash_spark,
    )

    s = " ".join(words)
    got_spark = spark.sql(
        "SELECT " + shingle_int_hash_spark("s") + " AS h FROM (SELECT ? AS s)",
        args=[s],
    ).collect()[0]["h"]
    got_duck = duckdb.execute(
        "SELECT " + shingle_int_hash_duck("?") + " AS h", [s]
    ).fetchone()[0]
    assert got_spark == got_duck


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("ab"), min_size=0, max_size=30),
        min_size=1,
        max_size=5,
    )
)
def test_substring_span_stats_match_python_reference(spark, docs):
    """Span accounting vs a brute-force python reference on tiny
    random binary-alphabet corpora (k=4): duplicated positions are
    those whose k-gram occurs >= 2 times corpus-wide; merged interval
    union gives dup_chars and span count."""
    from mapreduce_citation_spark.operators.dedup import substring_span_stats

    k = 4
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_chars"], r["n_chars"])
        for r in substring_span_stats(df, k=k).collect()
    }

    from collections import Counter

    grams = Counter()
    for _, t in rows:
        for i in range(len(t) - k + 1):
            grams[t[i:i + k]] += 1
    want = {}
    for did, t in rows:
        starts = [
            i for i in range(len(t) - k + 1) if grams[t[i:i + k]] >= 2
        ]
        spans = []
        for i in starts:
            if spans and i <= spans[-1][1]:  # overlap/adjacent: end = last covered
                spans[-1][1] = max(spans[-1][1], i + k)
            else:
                spans.append([i, i + k])
        want[did] = (len(spans), sum(e - s for s, e in spans), len(t))
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("ab"), min_size=0, max_size=24),
        min_size=2,
        max_size=5,
    )
)
def test_exact_substring_pairs_match_python_reference(spark, docs):
    """Pair detection vs brute force on tiny random corpora (k=4):
    (a, b, n) where n = count of distinct shared k-grams, a < b."""
    from mapreduce_citation_spark.operators.dedup import exact_substring_pairs

    k = 4
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in exact_substring_pairs(df, k=k).collect()
    }
    gram_sets = {
        did: {t[i:i + k] for i in range(len(t) - k + 1)} for did, t in rows
    }
    want = {}
    ids = sorted(gram_sets)
    for x in ids:
        for y in ids:
            if x < y:
                shared = gram_sets[x] & gram_sets[y]
                if shared:
                    want[(x, y)] = len(shared)
    assert got == want


def _pairs_via_duckdb(rows, cap):
    """Run the driver-gate oracle SQL for exact-substring pairs on a
    planted (doc_id, text) fixture, with the given df cap."""
    import duckdb
    import pandas as pd

    from mapreduce_citation_spark.operators.dedup import _es_pairs_oracle

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = con.execute(_es_pairs_oracle(maxdf=cap)).fetchall()
    con.close()
    return sorted((a, b, int(n)) for a, b, n in out)


def _planted_df_groups(cap):
    """Two doc groups planted EXACTLY at the boundary: every doc is a
    single 40-char gram (text length == k, so no boundary grams
    muddy the df), giving one digest with df == cap (pairs must
    survive the cap) and one with df == cap + 1 (pairs must be
    filtered as boilerplate)."""
    rows = []
    for i in range(cap):
        rows.append((f"a{i:04d}", "A" * 40))
    for i in range(cap + 1):
        rows.append((f"b{i:04d}", "B" * 40))
    return rows


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cap=st.integers(min_value=2, max_value=6))
def test_substring_pairs_df_cap_boundary(spark, cap):
    """The boilerplate cap changes WHICH pairs exist — identical
    semantics on both engines is load-bearing (VERDICT r4 #7): a
    digest at df == cap keeps its C(cap, 2) pairs, df == cap + 1
    yields none, and Spark and the driver-gate DuckDB oracle agree
    row-for-row on planted fixtures either side of the boundary."""
    from mapreduce_citation_spark.operators.dedup import exact_substring_pairs

    rows = _planted_df_groups(cap)
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_shared"])
        for r in exact_substring_pairs(docs, maxdf=cap).collect()
    )
    want = _pairs_via_duckdb(rows, cap)
    assert got == want
    # structural truth, independent of either engine: all C(cap, 2)
    # a-pairs present with exactly the one shared gram; no b-pairs
    assert got == sorted(
        (f"a{i:04d}", f"a{j:04d}", 1)
        for i in range(cap) for j in range(i + 1, cap)
    )


def test_substring_pairs_df_cap_boundary_at_real_cap(spark):
    """Same boundary at the PRODUCTION cap (_ES_MAXDF = 1000): a
    digest planted in exactly 1000 docs keeps its 499 500 pairs, one
    in 1001 docs is dropped — on both engines (count-compared; the
    half-million-row pair set itself stays distributed)."""
    from mapreduce_citation_spark.operators.dedup import (
        _ES_MAXDF,
        exact_substring_pairs,
    )

    rows = _planted_df_groups(_ES_MAXDF)
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    pairs = exact_substring_pairs(docs)  # production cap
    n_spark = pairs.count()
    expect = _ES_MAXDF * (_ES_MAXDF - 1) // 2
    assert n_spark == expect
    # no pair from the df == cap+1 group
    assert pairs.filter("doc_a LIKE 'b%' OR doc_b LIKE 'b%'").count() == 0
    # duckdb agrees on the count
    import duckdb
    import pandas as pd

    from mapreduce_citation_spark.operators.dedup import _es_pairs_oracle

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    n_duck = con.execute(
        f"SELECT COUNT(*) FROM ({_es_pairs_oracle()})"
    ).fetchone()[0]
    con.close()
    assert n_duck == expect



@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # user_id (< 12: kept)
            st.integers(min_value=0, max_value=120),  # minutes offset
            st.integers(min_value=-5, max_value=5),   # value (int-valued double)
        ),
        min_size=1,
        max_size=25,
    )
)
def test_gap_fill_matches_pandas_reference(spark, events):
    """Random sparse event sets: the gap-fill operator must equal an
    independent pandas reference (dense per-user hourly grid between
    first and last active hour, hourly max carried, forward fill)."""
    import os
    import tempfile

    import pandas as pd

    from mapreduce_citation_spark.operators.events import events_gap_fill_hourly

    base = pd.Timestamp("2024-03-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(events)),
            "ts": [base + pd.Timedelta(minutes=m) for _, m, _ in events],
            "user_id": [u for u, _, _ in events],
            "event_type": "view",
            "value": [float(v) for _, _, v in events],
            "props": "{}",
        }
    )
    # pandas reference
    b = (
        pdf.assign(h=pdf.ts.dt.floor("h"))
        .groupby(["user_id", "h"])
        .agg(n=("event_id", "size"), v=("value", "max"))
        .reset_index()
    )
    want = {}
    for u, g in b.groupby("user_id"):
        grid = pd.date_range(g.h.min(), g.h.max(), freq="h")
        gg = g.set_index("h").reindex(grid)
        filled = gg.v.ffill()
        for h, n, v in zip(grid, gg.n, filled):
            want[(u, h)] = (0 if pd.isna(n) else int(n), pd.isna(gg.n[h]), v)

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(
            os.path.join(td, "events.parquet")
        )
        rows = events_gap_fill_hourly(spark, td).collect()
    got = {
        (r["user_id"], pd.Timestamp(r["hour_start"])): (
            r["n_events"],
            r["is_gap"],
            r["v_filled"],
        )
        for r in rows
    }
    assert got == want


def test_sql_dialect_portable_is_verbatim(spark, sf_dir):
    """The portability contract: the registered oracle string and the
    SQL Spark executes are THE SAME object (no dialect divergence can
    creep in), and the query returns ranked, fully-partitioned
    segments."""
    from mapreduce_citation_spark.operators.relational import (
        _PORTABLE_SQL,
        sql_dialect_portable,
    )
    from mapreduce_citation_spark.registry import all_specs

    assert all_specs()["sql_dialect_portable"].oracle is _PORTABLE_SQL
    rows = sql_dialect_portable(spark, sf_dir).collect()
    ranks = sorted(r["spend_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    assert sum(r["n_customers"] for r in rows) > 0


# ---------------------------------------------------------------------------
# prefix-offset global order (operators/prefix.py) — the r7 centerpiece
# ---------------------------------------------------------------------------

_weighted_keys = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),   # order key
        st.integers(min_value=-50, max_value=50),       # summed weight
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_weighted_keys, n_parts=st.sampled_from([1, 3, 32]))
def test_with_global_order_properties(spark, rows, n_parts):
    """with_global_order must equal the single-node definition for ANY
    key multiset (duplicates included — a unique tiebreaker column is
    appended, as every production caller does), any weights (negative
    included), and any partition count (1, mid, > distinct keys):
    rank is the 1-based sorted position, cumsum the inclusive running
    sum, total the row count."""
    from mapreduce_citation_spark.operators.prefix import with_global_order

    data = [(k, w, i) for i, (k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k INT, w INT, tb INT").repartition(4)
    out = with_global_order(
        df, ["k", "tb"], rank="r", cumsum={"cw": "w"}, total="n",
        n_parts=n_parts,
    )
    got = sorted(out.collect(), key=lambda x: (x.k, x.tb))
    expected = sorted(data, key=lambda t: (t[0], t[2]))
    run = 0
    assert len(got) == len(expected)
    for i, (g, (k, w, tb)) in enumerate(zip(got, expected)):
        run += w
        assert (g.k, g.tb) == (k, tb)
        assert g.r == i + 1
        assert g.cw == run
        assert g.n == len(expected)


_tiny_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=3,
    max_size=10,
)
_tiny_corpus = st.lists(_tiny_words, min_size=2, max_size=14)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_tiny_corpus)
def test_prefix_filter_jaccard_is_exact(spark, corpus):
    """The PPJoin prefix filter + pair-keyed verify must find EXACTLY
    the >= 0.8 word-3-gram Jaccard delta-base pairs a python brute
    force finds — on adversarial corpora drawn from a 5-word alphabet
    (maximal shingle collisions, so prefixes are as uninformative as
    they get). A missed pair would mean the prefix theorem was applied
    wrong; an extra pair a broken verify."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        incremental_ingest_report,
    )

    texts = [" ".join(ws) for ws in corpus]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    expected = set()
    for d in range(0, len(texts), 2):          # delta = even ids
        for b in range(1, len(texts), 2):      # base = odd ids
            if texts[d] == texts[b]:
                expected.add((d, "exact"))
                break
        else:
            a, bb = sh(texts[d]), set()
            for b in range(1, len(texts), 2):
                bb = sh(texts[b])
                if a and bb and len(a & bb) / len(a | bb) >= 0.8:
                    expected.add((d, "near"))
                    break

    got = {
        (r["doc_id"], r["reason"])
        for r in incremental_ingest_report(
            docs, F.col("doc_id") % 2 == 0
        ).collect()
    }
    assert got == expected


def test_ppjoin_pair_filters_match_python_reference(spark):
    """The integer-exact PPJoin length/positional predicate equals a
    float reference over an exhaustive small grid of (|A|, |B|, i, j)
    — pins the ceil/div arithmetic at the threshold boundaries (e.g.
    5·min ≥ 4·max exactly at |A|=4,|B|=5; α exactly at multiples of
    9), where an off-by-one would silently prune a true pair."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        _ppjoin_pair_filters,
    )

    grid = [
        (na, nb, ra, rb)
        for na in range(1, 13)
        for nb in range(1, 13)
        for ra in range(1, na + 1)
        for rb in range(1, nb + 1)
    ]
    a = spark.createDataFrame(
        [(i, na, ra) for i, (na, nb, ra, rb) in enumerate(grid)],
        "id long, n_sh long, rk long",
    ).alias("a")
    b = spark.createDataFrame(
        [(i, nb, rb) for i, (na, nb, ra, rb) in enumerate(grid)],
        "id long, n_sh long, rk long",
    ).alias("b")
    got = {
        r["id"]
        for r in a.join(b, (F.col("a.id") == F.col("b.id")))
        .filter(_ppjoin_pair_filters())
        .select(F.col("a.id").alias("id"))
        .collect()
    }
    t = 0.8
    want = set()
    for i, (na, nb, ra, rb) in enumerate(grid):
        length_ok = min(na, nb) >= t * max(na, nb) - 1e-12
        alpha = math.ceil(t / (1 + t) * (na + nb) - 1e-12)
        positional_ok = min(ra, rb) + min(na - ra, nb - rb) >= alpha
        if length_ok and positional_ok:
            want.add(i)
    assert got == want


def _edge_lines_reference(data: bytes, sep: str) -> list[tuple[str, str]]:
    """The edge-list scan rules, one line at a time in plain python."""
    import io

    out = []
    for raw in io.BytesIO(data):
        line = raw.decode("utf-8", errors="replace").strip()
        if not line or line.startswith("#"):
            continue
        fields = line.split(sep)
        if len(fields) == 2 and fields[0] and fields[1]:
            out.append((fields[0], fields[1]))
    return out


@settings(max_examples=300, deadline=None)
@given(
    pieces=st.lists(
        st.sampled_from(
            ["a", "b7", "\t", " ", "#", "\r", "\n", "\n\n", ",", "\x1c", "\x85",
             "　", "é"]
        ),
        max_size=40,
    ),
    bad_utf8=st.booleans(),
    sep=st.sampled_from(["\t", ","]),
    cut=st.integers(min_value=0, max_value=400),
)
def test_edge_block_parser_matches_line_rules(pieces, bad_utf8, sep, cut):
    """The ``edgelist`` reader's vectorised block parser equals the
    line-by-line rules (``str.strip()`` whitespace, replaced invalid
    UTF-8, comments, malformed rows), and two byte ranges cut anywhere
    read every line once."""
    import io

    from mapreduce_citation_spark.sources.edgelist_datasource import (
        _range_blocks,
        parse_edges,
    )

    data = "".join(pieces).encode()
    if bad_utf8:
        data += b"\xff\xfeb\tc\n" + data
    cut = min(cut, len(data))
    got = []
    for start, end in ((0, cut), (cut, len(data))):
        for block in _range_blocks(io.BytesIO(data), start, end):
            batch = parse_edges(block, sep, "#")
            got += zip(batch.column(0).to_pylist(), batch.column(1).to_pylist())
    assert got == _edge_lines_reference(data, sep)

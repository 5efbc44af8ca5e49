"""Seeded input generators for the fresh-query benchmark.

Everything here runs in one process with numpy/pyarrow only, and the
same seed always writes byte-identical inputs:

- ``write_edge_list``: a citation edge list in the reference's text
  format (tab-separated ``from<TAB>to`` string ids, ``#`` comments,
  blank lines and malformed rows mixed in), with a Zipf in-degree like
  the SNAP ``cit-HepTh`` graph.
- ``count_edges_serial``: the pure-Python, line-by-line count of such a
  file (the reference's ``check.py`` model). It is the oracle for the
  citation report operations.
- ``write_tables``: the engine's TPC-H-style fixture tables at a given
  scale factor, with the schemas and value domains of the fixtures the
  registry's oracles were written against.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- edges

#: cit-HepTh's own header lines; the generator adds more comments.
_EDGE_HEADER = (
    "# Directed graph (each unordered pair of nodes is saved once): Cit-HepTh.txt",
    "# Paper citation network of Arxiv High Energy Physics Theory category",
    "# FromNodeId\tToNodeId",
)


def _paper_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct arXiv-style ids ``YYMMNNN`` (1992-2003), as strings.

    Ids from 2000 on start with ``0``, so string order and numeric order
    disagree, which is what the report's tie-break must get right.
    """
    months = [f"{y % 100:02d}{m:02d}" for y in range(1992, 2004) for m in range(1, 13)]
    seq = rng.choice(len(months) * 1000, size=n, replace=False)
    return np.array([f"{months[s // 1000]}{s % 1000:03d}" for s in seq])


def write_edge_list(
    path: str,
    seed: int,
    n_papers: int,
    n_edges: int,
    junk_share: float = 0.02,
    zipf_s: float = 0.6,
) -> None:
    """Write a seeded citation edge list to ``path``.

    Cited papers follow a Zipf law over a seeded popularity order;
    citing papers are uniform. ``junk_share`` of the lines are, in equal
    parts, ``#`` comments, blank lines and malformed rows (one field,
    three fields, or an empty field), all of which a reader must drop.
    """
    rng = np.random.default_rng([seed, 1])
    ids = _paper_ids(rng, n_papers)
    weights = 1.0 / np.arange(1, n_papers + 1) ** zipf_s
    popularity = rng.permutation(n_papers)
    to_idx = popularity[
        np.minimum(
            np.searchsorted(np.cumsum(weights) / weights.sum(), rng.random(n_edges)),
            n_papers - 1,
        )
    ]
    from_idx = rng.integers(0, n_papers, n_edges)
    lines = [f"{a}\t{b}" for a, b in zip(ids[from_idx], ids[to_idx])]

    n_junk = int(n_edges * junk_share)
    kinds = rng.integers(0, 5, n_junk)
    picks = rng.integers(0, n_papers, (n_junk, 2))
    junk = []
    for k, (a, b) in zip(kinds, picks):
        if k == 0:
            junk.append(f"# generated comment {ids[a]}")
        elif k == 1:
            junk.append("")
        elif k == 2:
            junk.append(ids[a])
        elif k == 3:
            junk.append(f"{ids[a]}\t{ids[b]}\t{ids[a]}")
        else:
            junk.append(f"\t{ids[b]}")
    at = np.sort(rng.integers(0, len(lines) + 1, n_junk))
    lines = np.insert(np.array(lines, dtype=object), at, np.array(junk, dtype=object))
    with open(path, "w") as fh:
        fh.write("\n".join([*_EDGE_HEADER, *lines]) + "\n")


def count_edges_serial(path: str) -> tuple[Counter, int]:
    """Count in-degree line by line: skip comments and blank lines, keep
    rows that split on TAB into exactly two non-empty ids.

    Returns ``(citations per cited id, number of valid edges)``.
    """
    counts: Counter = Counter()
    n = 0
    with open(path) as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            fields = line.split("\t")
            if len(fields) != 2 or not fields[0] or not fields[1]:
                continue
            counts[fields[1]] += 1
            n += 1
    return counts, n


def top_k(counts: Counter, k: int = 30) -> list[tuple[int, str, int]]:
    """``(rank, paper_id, citations)`` ordered by citations desc, id asc."""
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i + 1, pid, c) for i, (pid, c) in enumerate(ranked)]


def report_body(rows: list[tuple[int, str, int]], k: int = 30) -> str:
    """The reference report's layout up to (not including) its
    ``Generated on:`` footer line."""
    out = ["=" * 50, f"Top {k} Most Cited Papers", "=" * 50, "",
           f"{'Rank':<6}{'Paper ID':<15}{'Citations':>10}", "-" * 31]
    out += [f"{r:<6}{p:<15}{c:>10,}" for r, p, c in rows]
    out += ["", "-" * 31]
    return "\n".join(out) + "\n"


# --------------------------------------------------------------- tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

#: Row counts per unit scale factor (the fixtures' sf0.1 counts × 10).
_ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000,
}


def table_rows(sf: float) -> dict[str, int]:
    return {t: max(1, int(round(n * sf))) for t, n in _ROWS_PER_SF.items()}


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(cols: dict[str, tuple[np.ndarray | list, pa.DataType]]) -> pa.Table:
    return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})


def write_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> dict[str, int]:
    """Write the named fixture tables as ``out_dir/<name>.parquet``.

    Keys are dense from 0, foreign keys are uniform over their parent's
    keys, and categorical/date/price domains match the fixtures, so
    every registry operator and its DuckDB oracle run on these as on
    the fixtures. Returns the row count per table written.
    """
    rng = np.random.default_rng([seed, 2])
    n = table_rows(sf)
    build = {
        "region": lambda: _table({
            "r_regionkey": (np.arange(5), pa.int32()),
            "r_name": (_REGIONS, pa.string()),
        }),
        "nation": lambda: _table({
            "n_nationkey": (np.arange(25), pa.int32()),
            "n_name": ([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": (np.arange(25) % 5, pa.int32()),
        }),
        "customer": lambda: _table({
            "c_custkey": (np.arange(n["customer"]), pa.int64()),
            "c_name": ([f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()),
            "c_nationkey": (rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": (_money(rng, n["customer"], -999.99, 9999.99), pa.float64()),
            "c_mktsegment": (rng.choice(_SEGMENTS, n["customer"]), pa.string()),
        }),
        "supplier": lambda: _table({
            "s_suppkey": (np.arange(n["supplier"]), pa.int64()),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()),
            "s_nationkey": (rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": (_money(rng, n["supplier"], -999.99, 9999.99), pa.float64()),
        }),
        "part": lambda: _table({
            "p_partkey": (np.arange(n["part"]), pa.int64()),
            "p_name": ([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                        rng.integers(0, 8, (n["part"], 2))], pa.string()),
            "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()),
            "p_type": (rng.choice(_PART_TYPES, n["part"]), pa.string()),
            "p_size": (rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": (np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2), pa.float64()),
        }),
        "orders": lambda: _table({
            "o_orderkey": (np.arange(n["orders"]), pa.int64()),
            "o_custkey": (rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": (rng.choice(["F", "O", "P"], n["orders"]), pa.string()),
            "o_totalprice": (_money(rng, n["orders"], 1000.0, 500000.0), pa.float64()),
            "o_orderdate": (_days(rng, n["orders"], "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": (rng.choice(_PRIORITIES, n["orders"]), pa.string()),
        }),
        "lineitem": lambda: _table({
            "l_orderkey": (rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": (rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": (rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": (rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": (rng.integers(1, 51, n["lineitem"]).astype(float), pa.float64()),
            "l_extendedprice": (_money(rng, n["lineitem"], 900.0, 105000.0), pa.float64()),
            "l_discount": (rng.integers(0, 11, n["lineitem"]) / 100.0, pa.float64()),
            "l_tax": (rng.integers(0, 9, n["lineitem"]) / 100.0, pa.float64()),
            "l_returnflag": (rng.choice(["A", "N", "R"], n["lineitem"]), pa.string()),
            "l_linestatus": (rng.choice(["F", "O"], n["lineitem"]), pa.string()),
            "l_shipdate": (_days(rng, n["lineitem"], "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }),
    }
    written = {}
    for name in names:
        table = build[name]()
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        written[name] = table.num_rows
    return written

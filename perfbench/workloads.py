"""The benchmark's workloads: inputs, operations and output checks.

Each operation is driven only through the engine's public surface —
``session.get_spark``, the registry's query functions
``(spark, sf_dir) -> DataFrame``, ``citations.CitationAnalytics``,
``sources.readers``, the ``edgelist`` DataSource and
``sources.sinks.write_parquet`` — exactly as a caller would.

An operation's ``build`` returns either a DataFrame (then drained by the
benchmark) or a finished Python value (the report text). Its ``check``
runs once per run, untimed, on a fresh result: registry operations
against their DuckDB oracle (``registry.oracle_sql()``), the citation
operations against the serial pure-Python count of the same file.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import gen

# ------------------------------------------------------------ workloads


@dataclass(frozen=True)
class Workload:
    """One workload; its "why" is in BENCHMARK.json."""

    name: str
    #: scale factor of the generated fixture tables
    sf: float
    tables: tuple[str, ...]
    #: (papers, edges) of the generated citation edge list, or None
    edges: tuple[int, int] | None
    #: operation names, in definition order (each pass shuffles them)
    ops: tuple[str, ...]
    #: untimed passes between the checked warm-up and the timed passes
    settle_passes: int
    #: fewest timed (untraced) passes a run makes, however short --seconds
    timed_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="citation",
            sf=0.001,
            tables=("orders", "lineitem"),
            edges=(8_000, 60_000),
            ops=(
                "scan_edges",
                "top30_report",
                "counts_datasource",
                "counts_parquet_roundtrip",
                "citation_pagerank",
                "streaming_edgelist_counts",
            ),
            settle_passes=0,
            timed_passes=1,
        ),
        Workload(
            name="warehouse_joins",
            sf=0.01,
            tables=("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem"),
            edges=None,
            ops=(
                "scan_lineitem",
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "q3_shipping_priority",
                "join_hot_key_aqe",
            ),
            # the first pass after the warm-up is still up to 40 % slower
            settle_passes=1,
            timed_passes=3,
        ),
    )
}


# ---------------------------------------------------------------- context


@dataclass
class Context:
    """What one run's operations see: the session and the generated
    inputs, plus the expected citation counts for the checks."""

    spark: Any
    work_dir: str
    sf_dir: str | None = None
    edge_path: str | None = None
    #: (citations per id, valid edges) from the serial count
    expected: tuple | None = None
    #: rows written per generated table
    table_rows: dict[str, int] = field(default_factory=dict)
    duck: Any = None
    #: seconds spent inside sink calls since the last reset
    sink_s: float = 0.0

    def sink(self, fn: Callable[[], Any]) -> Any:
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.sink_s += time.perf_counter() - t0


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Context], Any]
    check: Callable[[Context, Any], str | None]
    #: True for the scan-only operation of a workload (sources.scan_s)
    scan: bool = False


# ------------------------------------------------------------------ checks


def oracle_check(name: str) -> Callable[[Context, Any], str | None]:
    def check(ctx: Context, out) -> str | None:
        from check_correctness import norm_int_like, value_hash
        from mapreduce_citation_spark import registry

        got = out.toPandas()
        want = ctx.duck.execute(registry.oracle_sql()[name]).fetchdf()
        if len(got) != len(want):
            return f"rows {len(got)} != oracle {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        if value_hash(norm_int_like(got)) != value_hash(norm_int_like(want)):
            return "values differ from the oracle"
        return None

    return check


def _counts_check(ctx: Context, out) -> str | None:
    got = out.toPandas()
    counts = dict(zip(got["paper_id"], got["citations"].astype(int)))
    return None if counts == dict(ctx.expected[0]) else "counts differ from the serial count"


def _scan_check(ctx: Context, out) -> str | None:
    n = out.count()
    return None if n == ctx.expected[1] else f"{n} edges != {ctx.expected[1]} valid lines"


def _report_check(ctx: Context, body: str) -> str | None:
    want = gen.report_body(gen.top_k(ctx.expected[0]))
    return None if body == want else "report differs from the serial top-30"


def _table_scan_check(table: str) -> Callable[[Context, Any], str | None]:
    def check(ctx: Context, out) -> str | None:
        n, want = out.count(), ctx.table_rows[table]
        return None if n == want else f"{n} rows != {want} written"

    return check


# -------------------------------------------------------------- operations


def _analytics(ctx: Context):
    from mapreduce_citation_spark.citations import CitationAnalytics

    return CitationAnalytics.from_text(ctx.spark, ctx.edge_path)


def _report(ctx: Context) -> str:
    """write_report, then the file's body without its timestamp footer."""
    path = os.path.join(ctx.work_dir, "report.txt")
    ctx.sink(lambda: _analytics(ctx).write_report(path))
    with open(path) as fh:
        text = fh.read()
    return text[: text.rindex("Generated on:")]


def _datasource_counts(ctx: Context):
    from mapreduce_citation_spark.citations import CitationAnalytics

    edges = ctx.spark.read.format("edgelist").option("path", ctx.edge_path).load()
    return CitationAnalytics(edges).citation_counts()


def _parquet_roundtrip(ctx: Context):
    from mapreduce_citation_spark.sources.sinks import write_parquet

    path = os.path.join(ctx.work_dir, "counts.parquet")
    ctx.sink(lambda: write_parquet(_analytics(ctx).citation_counts(), path))
    return ctx.spark.read.parquet(path)


def _scan_table(table: str) -> Callable[[Context], Any]:
    def build(ctx: Context):
        from mapreduce_citation_spark.sources.readers import load_table

        return load_table(ctx.spark, ctx.sf_dir, table)

    return build


def _read_edges(ctx: Context):
    from mapreduce_citation_spark.sources.readers import read_edges_text

    return read_edges_text(ctx.spark, ctx.edge_path)


_OWN_OPS = {
    "scan_edges": Op("scan_edges", _read_edges, _scan_check, scan=True),
    "top30_report": Op("top30_report", _report, _report_check),
    "counts_datasource": Op("counts_datasource", _datasource_counts, _counts_check),
    "counts_parquet_roundtrip": Op(
        "counts_parquet_roundtrip", _parquet_roundtrip, _counts_check
    ),
    "scan_lineitem": Op(
        "scan_lineitem", _scan_table("lineitem"), _table_scan_check("lineitem"), scan=True
    ),
}


def _registry_op(name: str) -> Op:
    def build(ctx: Context):
        from mapreduce_citation_spark import registry

        return registry.queries()[name](ctx.spark, ctx.sf_dir)

    return Op(name, build, oracle_check(name))


def operations(workload: Workload) -> list[Op]:
    return [_OWN_OPS.get(n) or _registry_op(n) for n in workload.ops]


# ------------------------------------------------------------------ inputs


def make_inputs(workload: Workload, seed: int, data_dir: str) -> dict:
    """Generate the workload's inputs under ``data_dir``; return what
    was written (lines or rows, and bytes, per file)."""
    inputs: dict[str, dict[str, int]] = {}
    if workload.edges:
        path = os.path.join(data_dir, "edges.txt")
        gen.write_edge_list(path, seed, *workload.edges)
        with open(path, "rb") as fh:
            lines = sum(1 for _ in fh)
        inputs["edges.txt"] = {"lines": lines, "bytes": os.path.getsize(path)}
    if workload.tables:
        rows = gen.write_tables(data_dir, seed, workload.sf, workload.tables)
        for t, n in rows.items():
            inputs[f"{t}.parquet"] = {
                "rows": n,
                "bytes": os.path.getsize(os.path.join(data_dir, f"{t}.parquet")),
            }
    return inputs


def register_inputs(ctx: Context, workload: Workload) -> None:
    """Register what the engine needs registered before a query: the
    ``edgelist`` DataSource. Tables need nothing; every query function
    reads its parquet by path (``sources.readers.load_table``)."""
    if workload.edges:
        from mapreduce_citation_spark.sources.edgelist_datasource import (
            register_edgelist_source,
        )

        register_edgelist_source(ctx.spark)


def open_oracle(workload: Workload, sf_dir: str):
    """A DuckDB connection with the generated tables as views."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in workload.tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con

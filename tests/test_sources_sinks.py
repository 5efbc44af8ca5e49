"""Roundtrip tests for sinks + partition pruning on partitioned
parquet output."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_citation_spark.plans import explain_str
from mapreduce_citation_spark.sources.readers import load_table
from mapreduce_citation_spark.sources.sinks import (
    read_csv,
    read_json,
    write_csv,
    write_json,
    write_parquet,
)


def test_parquet_partitioned_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # a filter on the partition column must prune, not scan+filter:
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = explain_str(pruned, "formatted")
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == want


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(nation, out)
    back = read_csv(spark, out, nation.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "customer_json")
    write_json(cust, out)
    back = read_json(spark, out, cust.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cust.collect()))


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    from mapreduce_citation_spark.sources.sinks import read_orc, write_orc

    supp = load_table(spark, sf_dir, "supplier")
    out = str(tmp_path / "supplier_orc")
    write_orc(supp, out)
    back = read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, supp.collect()))
    # filters push into the ORC scan just like parquet
    plan = back.filter(back.s_suppkey == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(s_suppkey), EqualTo(s_suppkey,1)]" in plan


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet batches — the lakehouse
    reality at 100 TB (new columns appear mid-history): batch 1 has
    (id, a), batch 2 adds c; a mergeSchema read unions the schemas
    and nulls the missing column in old files, while a plain read
    with an explicit schema also resolves by NAME, not position."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolve")
    spark.range(3).select("id", F.lit("x").alias("a")).write.parquet(f"{p}/b1")
    spark.range(3, 5).select(
        "id", F.lit("y").alias("a"), F.lit(7).alias("c")
    ).write.parquet(f"{p}/b2")
    merged = (
        spark.read.option("mergeSchema", "true").parquet(f"{p}/b1", f"{p}/b2")
    )
    assert set(merged.columns) == {"id", "a", "c"}
    rows = {r["id"]: (r["a"], r["c"]) for r in merged.collect()}
    assert rows[0] == ("x", None) and rows[4] == ("y", 7)
    assert merged.filter(F.col("c").isNull()).count() == 3


def test_csv_corrupt_record_policies(spark, tmp_path):
    """CSV malformed-row handling — the reference's drop/fail/keep
    policy surface (sources/readers.py edge scan) generalized to the
    CSV reader: PERMISSIVE keeps rows and surfaces the raw text in
    the corrupt-record column, DROPMALFORMED silently drops,
    FAILFAST raises on read."""
    import pytest
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "bad.csv"
    p.write_text("1,alpha\n2,beta\nnot_an_int,gamma\n3\n")
    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("v", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(str(p))
    rows = perm.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    # both the type mismatch AND the short row are malformed (a row
    # with fewer tokens than the schema is corrupt in Spark CSV)
    assert {r["_corrupt_record"] for r in bad} == {"not_an_int,gamma", "3"}

    dropped = (
        spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(str(p))
    )
    ks = sorted(r["k"] for r in dropped.collect() if r["k"] is not None)
    assert ks == [1, 2]

    with pytest.raises(Exception) as ei:
        spark.read.schema(schema).option("mode", "FAILFAST").csv(str(p)).collect()
    assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)


def test_json_corrupt_record_policies(spark, tmp_path):
    """JSON-lines corrupt-record handling: PERMISSIVE surfaces the
    broken line, DROPMALFORMED drops it, FAILFAST raises — with a
    typed schema so a type mismatch is also malformed."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "bad.jsonl"
    p.write_text('{"k": 1, "v": "a"}\n{oops}\n{"k": 2, "v": "b"}\n')
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("v", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(p))
    bad = [r for r in perm.collect() if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "{oops}"

    dropped = spark.read.schema(schema).option("mode", "DROPMALFORMED").json(str(p))
    assert sorted(r["k"] for r in dropped.collect()) == [1, 2]

    with pytest.raises(Exception):
        spark.read.schema(schema).option("mode", "FAILFAST").json(str(p)).collect()


def test_edgelist_datasource_range_splits_exact(spark, tmp_path):
    """Custom python DataSource (byte-range line splitting): on an
    adversarial file — comments, blanks, malformed rows, line lengths
    chosen so range boundaries cut mid-line and at line starts — the
    connector must return exactly what the declarative text reader
    returns, for EVERY split count, and must actually plan multiple
    partitions."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        register_edgelist_source,
    )
    from mapreduce_citation_spark.sources.readers import read_edges_text

    register_edgelist_source(spark)
    lines = []
    for i in range(200):
        if i % 13 == 0:
            lines.append(f"# comment {i}")
        elif i % 17 == 0:
            lines.append("")
        elif i % 19 == 0:
            lines.append(f"malformed_{i}")  # one field → dropped
        else:
            lines.append(f"p{i}\tq{i % 23}{'x' * (i % 5)}")
    p = tmp_path / "edges.txt"
    p.write_text("\n".join(lines) + "\n")

    want = sorted(
        map(tuple, read_edges_text(spark, str(p), malformed="drop").collect())
    )
    assert len(want) > 150
    for splits in (1, 3, 8, 64):
        df = (
            spark.read.format("edgelist")
            .option("path", str(p))
            .option("splits", str(splits))
            .load()
        )
        got = sorted(map(tuple, df.collect()))
        assert got == want, f"splits={splits} diverged"
    many = (
        spark.read.format("edgelist")
        .option("path", str(p))
        .option("splits", "8")
        .load()
    )
    assert many.rdd.getNumPartitions() == 8


def test_edgelist_datasource_empty_dir_reads_zero_rows(spark, tmp_path):
    """An empty staging directory (or one holding only dot/underscore
    files) must read as zero rows — not IndexError from the
    zero-range fallback indexing a nonexistent first file."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        register_edgelist_source,
    )

    register_edgelist_source(spark)
    empty = tmp_path / "staging"
    empty.mkdir()
    df = spark.read.format("edgelist").option("path", str(empty)).load()
    assert df.count() == 0
    (empty / "_SUCCESS").write_text("")
    (empty / ".hidden").write_text("p\tq\n")
    df2 = spark.read.format("edgelist").option("path", str(empty)).load()
    assert df2.count() == 0


def test_edgelist_stream_source_multibatch_and_replay(spark, tmp_path):
    """The custom streaming source: tiny batchLines forces many
    micro-batches; the drained complete-mode aggregate equals the
    batch read; and readBetweenOffsets replays an arbitrary committed
    range bit-identically (the restart contract)."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        EdgeListSimpleStreamReader,
        register_edgelist_source,
    )

    register_edgelist_source(spark)
    p = tmp_path / "stream_edges.txt"
    lines = []
    for i in range(997):
        if i % 31 == 0:
            lines.append(f"# c{i}")
        else:
            lines.append(f"s{i % 7}\td{i % 13}")
    p.write_text("\n".join(lines) + "\n")

    stream = (
        spark.readStream.format("edgelist")
        .option("path", str(p))
        .option("batchLines", "100")
        .load()
    )
    name = "edgelist_stream_test_sink"
    q = (
        stream.groupBy("from_paper", "to_paper")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    assert n_batches >= 9  # 997 lines / 100 per batch
    got = sorted(map(tuple, spark.table(name).collect()))
    want = sorted(
        map(
            tuple,
            spark.read.format("edgelist").option("path", str(p)).load()
            .groupBy("from_paper", "to_paper").count().collect(),
        )
    )
    assert got == want

    r = EdgeListSimpleStreamReader(
        {"path": str(p), "batchLines": "100"}
    )
    it1, end = r.read({"line": 150})
    replay = list(r.readBetweenOffsets({"line": 150}, end))
    assert list(it1) == replay and end == {"line": 250}


def test_edgelist_writer_commit_overwrite_append(spark, tmp_path):
    """Writer commit protocol: no temp files survive a commit;
    append doubles the data; overwrite replaces it exactly even when
    old and new part names collide."""
    import os

    from mapreduce_citation_spark.sources.edgelist_datasource import (
        register_edgelist_source,
    )

    register_edgelist_source(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"a{i}", f"b{i % 3}") for i in range(100)],
        ["from_paper", "to_paper"],
    )
    df.write.format("edgelist").option("path", out).mode("append").save()
    names1 = sorted(os.listdir(out))
    assert all(n.startswith("part-") for n in names1)
    back1 = spark.read.format("edgelist").option("path", out).load()
    assert back1.count() == 100

    df.write.format("edgelist").option("path", out).mode("append").save()
    assert (
        spark.read.format("edgelist").option("path", out).load().count() == 200
    )

    df.limit(40).write.format("edgelist").option("path", out).mode(
        "overwrite"
    ).save()
    back3 = spark.read.format("edgelist").option("path", out).load()
    assert back3.count() == 40
    assert all(n.startswith("part-") for n in os.listdir(out))


def test_edgelist_reader_filter_pushdown(spark, tmp_path):
    """Connector filter pushdown: EqualTo / StartsWith filters reach
    the python reader (plan's PushedFilters), rows are pruned inside
    the scan, and results equal the unpushed read + filter."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        EqualTo,
        EdgeListReader,
        StringStartsWith,
        register_edgelist_source,
    )

    register_edgelist_source(spark)
    p = tmp_path / "f_edges.txt"
    p.write_text("".join(f"k{i % 10}\tv{i % 4}\n" for i in range(400)))

    # unit: reader consumes supported filters, yields back the rest
    r = EdgeListReader({"path": str(p)})
    leftover = list(
        r.pushFilters(
            [EqualTo(("from_paper",), "k3"), StringStartsWith(("to_paper",), "v")]
        )
    )
    assert leftover == [] and len(r.pushed) == 2
    rows = [
        (row["from_paper"], row["to_paper"])
        for part in r.partitions()
        for batch in r.read(part)
        for row in batch.to_pylist()
    ]
    assert rows and all(a == "k3" and b.startswith("v") for a, b in rows)

    # end to end: after pushdown the Spark-side Filter keeps only
    # isnotnull residuals — the equality predicates moved into the
    # python scan (python BatchScan doesn't render a PushedFilters
    # field; their absence from the Filter node is the evidence)
    df = spark.read.format("edgelist").option("path", str(p)).load()
    q = df.filter((df.from_paper == "k3") & (df.to_paper == "v1"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan edgelist" in plan
    assert "= k3" not in plan and "= v1" not in plan
    got = sorted(map(tuple, q.collect()))
    want = sorted(
        (f"k{i % 10}", f"v{i % 4}")
        for i in range(400)
        if i % 10 == 3 and i % 4 == 1
    )
    assert got == want


def test_edgelist_default_splits_follow_spark_split_sizing(spark, tmp_path):
    """Without a ``splits`` option the range count is Spark's own file
    split rule (maxSplitBytes from maxPartitionBytes, openCostInBytes
    and parallelism); every layout reads the same rows."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        EdgeListReader,
        SplitSizing,
        register_edgelist_source,
    )

    p = tmp_path / "sized_edges.txt"
    p.write_text("".join(f"s{i}\td{i % 7}\n" for i in range(1000)))
    size = p.stat().st_size
    assert size > 3 * 2048

    def rows(reader):
        return sorted(
            (row["from_paper"], row["to_paper"])
            for part in reader.partitions()
            for batch in reader.read(part)
            for row in batch.to_pylist()
        )

    # (size + 512) / 2 cores > 2048 = max partition bytes → ranges of 2048
    sized = EdgeListReader({"path": str(p)}, SplitSizing(2048, 512, 2))
    assert len(sized.partitions()) == -(-size // 2048) >= 4
    # the open cost dominates a small file: one range
    one = EdgeListReader({"path": str(p)}, SplitSizing(1 << 20, 1 << 16, 4))
    assert len(one.partitions()) == 1
    assert rows(sized) == rows(one) == sorted((f"s{i}", f"d{i % 7}") for i in range(1000))

    register_edgelist_source(spark)
    df = spark.read.format("edgelist").option("path", str(p)).load()
    assert df.rdd.getNumPartitions() == 1  # 4 MB default open cost
    assert df.count() == 1000


def test_repack_checksum_hashes_every_column(tmp_path):
    """The repack tool's faithfulness checksum must cover the whole
    row: changing a value in a non-first column changes it, while row
    order does not."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.repack_rowgroups import _checksum

    base = {"k": [1, 2, 3], "v": ["x", "y", "z"], "w": [0.5, 1.5, 2.5]}
    pq.write_table(pa.table(base), tmp_path / "a.parquet")
    pq.write_table(pa.table({**base, "w": [0.5, 1.5, 9.5]}), tmp_path / "b.parquet")
    pq.write_table(
        pa.table({c: list(reversed(vals)) for c, vals in base.items()}),
        tmp_path / "c.parquet",
    )
    con = duckdb.connect()
    a, b, c = (_checksum(con, str(tmp_path / f"{n}.parquet")) for n in "abc")
    assert a[0] == b[0] == 3
    assert a != b
    assert a == c


def test_edgelist_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Custom streaming source RESTART: run with a checkpoint, stop
    after the first micro-batches, restart the same query — offsets
    resume where they left off (no reprocessing: an append-mode
    per-row sink would double rows otherwise) and the union of both
    runs' outputs is exactly the file's parsed content."""
    from mapreduce_citation_spark.sources.edgelist_datasource import (
        register_edgelist_source,
    )

    register_edgelist_source(spark)
    p = tmp_path / "resume_edges.txt"
    p.write_text("".join(f"a{i}\tb{i}\n" for i in range(1000)))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rows")

    def run_once():
        stream = (
            spark.readStream.format("edgelist")
            .option("path", str(p))
            .option("batchLines", "300")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000
    # restart on the same checkpoint: nothing new to read → no dups
    run_once()
    df = spark.read.parquet(out)
    assert df.count() == 1000
    assert df.distinct().count() == 1000

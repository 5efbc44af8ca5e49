"""The benchmark's own tests: python -m pytest perfbench -q

They cover the generator, the output digest, the metric names in
BENCHMARK.json, and that traced and untraced passes produce the same
operation outputs. The last one runs the benchmark end to end (about a
minute on a 4-core machine).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402


def test_edge_list_is_deterministic_per_seed(tmp_path):
    paths = [tmp_path / f"e{i}.txt" for i in range(3)]
    for path, seed in zip(paths, (5, 5, 6)):
        gen.write_edge_list(str(path), seed, 500, 4000)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert paths[0].read_bytes() != paths[2].read_bytes()


def test_tables_are_deterministic_per_seed(tmp_path):
    names = ("customer", "orders", "lineitem")
    dirs = [tmp_path / d for d in ("a", "b", "c")]
    for d, seed in zip(dirs, (5, 5, 6)):
        d.mkdir()
        gen.write_tables(str(d), seed, 0.001, names)
    for t in names:
        a, b, c = (pq.read_table(d / f"{t}.parquet") for d in dirs)
        assert a.equals(b)
        assert not a.equals(c)


def test_serial_count_drops_what_the_reader_drops(tmp_path):
    path = tmp_path / "e.txt"
    path.write_text("# header\n1\t2\n3\t2\n\nbad\n4\t5\t6\n\t5\n7\t5\n")
    counts, n = gen.count_edges_serial(str(path))
    assert dict(counts) == {"2": 2, "5": 1}
    assert n == 3


def test_generated_junk_lines_are_dropped(tmp_path):
    path = tmp_path / "e.txt"
    gen.write_edge_list(str(path), 1, 200, 2000, junk_share=0.1)
    _, n = gen.count_edges_serial(str(path))
    assert n == 2000


def test_report_layout_and_tie_break():
    rows = gen.top_k({"0101001": 3, "9901001": 3, "9801001": 5}, k=2)
    assert rows == [(1, "9801001", 5), (2, "0101001", 3)]
    body = gen.report_body(rows, k=2)
    assert body.splitlines()[1] == "Top 2 Most Cited Papers"
    assert "1     9801001                 5" in body


def test_metric_names_are_plain():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(names) == len(set(names))
    per_layer = {m["name"] for m in bench["per_layer"]}
    extra = {"session.start_s", "jvm.peak_rss_mb", "jvm.retained_heap_mb", "spark.task_skew",
             "trace.overhead_s", "client.pass_wall_s", "client.op_wall_geomean_s"}
    assert per_layer == set(layers.LAYER_KEYS) | extra


def test_timed_outputs_are_checked_against_the_warm_up_output(monkeypatch):
    """The warm-up output is the one checked against the oracle, so a
    timed output that differs from it fails, even on the first timed
    pass."""
    import run
    import workloads

    outputs = iter(["checked", "stale", "stale"])
    monkeypatch.setattr(workloads, "open_oracle", lambda *a: None)
    runner = run.Runner(argparse.Namespace(workload="citation", seed=1, seconds=0, trace=0), "")
    runner.ops = [workloads.Op("op", lambda ctx: next(outputs), lambda ctx, out: None)]
    runner.ctx = workloads.Context(
        spark=SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None)), work_dir="")
    runner.warm_up()
    assert runner.failures == []
    runner.run_pass(0)
    runner.run_pass(1)
    assert runner.failures == ["op: output differs from the checked warm-up output"] * 2


def test_tree_cpu_counts_exited_children():
    """pass_cpu_s counts the CPU of the driver JVM and its Python
    workers, including workers that have exited and been reaped."""
    import run

    before = run.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert run.tree_cpu_s(os.getpid()) - before >= 0.4


def test_metric_value_parsing():
    assert layers.metric_value("1,234") == 1234
    assert layers.metric_value("total (min, med, max (stageId: taskId))\n"
                               "2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 3))") == 2048
    assert layers.metric_value("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)") == 1.5


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from mapreduce_citation_spark.session import get_spark

    session = get_spark("perfbench-test")
    yield session
    session.stop()


def test_digest_ignores_order_and_partitioning(spark):
    import run

    df = spark.range(2000).selectExpr("id", "cast(id % 7 as string) AS k", "array(id, id) AS a")
    base = run.digest(df)
    assert run.digest(df.repartition(7)) == base
    assert run.digest(df.orderBy("k", "id")) == base
    assert run.digest(df.coalesce(1)) == base
    assert run.digest(df.filter("id != 5")) != base
    assert run.digest(df.selectExpr("id", "k", "array(id, id + 1) AS a")) != base


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "citation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_traced_and_untraced_passes_agree():
    """A traced run alternates untraced and traced passes and checks
    every output digest against the warm-up's checked output, so a clean
    exit means both kinds of pass produced the same outputs."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_joins",
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    context = json.loads(proc.stdout.strip().splitlines()[0])["context"]
    assert proc.returncode == 0, context["failures"]
    assert result["correct"] and result["failed"] == 0
    assert context["passes"] >= 2 and context["traced_passes"] >= 1
    assert result["metrics"]["spark.jobs"]["value"] > 0
    os.remove(os.path.join(ROOT, context["trace_file"]))

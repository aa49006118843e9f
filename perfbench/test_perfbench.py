"""Tests of the benchmark's own machinery. Run from the repo root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from canon import value_hash  # noqa: E402
from inputs import TABLES, generate, source_dir  # noqa: E402
from procstat import ProcessTree  # noqa: E402

SCALE = "sf0.001"


def _bytes(d: str) -> dict:
    out = {}
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = fh.read()
    return out


def test_one_seed_is_reproducible_and_two_seeds_keep_the_rows(tmp_path):
    a = generate(SCALE, 7, str(tmp_path / "a"))
    b = generate(SCALE, 7, str(tmp_path / "b"))
    c = generate(SCALE, 8, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    for t in TABLES:
        src = pq.ParquetFile(os.path.join(source_dir(SCALE), f"{t}.parquet"))
        for d in (a, c):
            f = pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
            assert f.metadata.num_row_groups == 1
            assert f.schema_arrow == src.schema_arrow
            assert f.schema.to_arrow_schema() == src.schema.to_arrow_schema()
        rows = [
            value_hash(pq.read_table(os.path.join(d, f"{t}.parquet")).to_pandas())
            for d in (a, c)
        ]
        assert rows[0] == rows[1] == value_hash(src.read().to_pandas())


def test_cpu_s_leaves_out_its_own_scans():
    tree = ProcessTree(os.getpid())
    before = tree.cpu_s()[0]
    for _ in range(200):
        tree.cpu_s()
    # Unsubtracted, 200 scans of 85 processes cost about 0.4 s of CPU.
    assert tree.cpu_s()[0] - before < tree.scan_cpu_s / 4


@pytest.fixture(scope="module")
def spark():
    from run import _start_spark

    s = _start_spark()
    yield s
    s.stop()


def test_traced_and_untraced_runs_give_identical_value_hashes(spark, tmp_path):
    import __spark_entry__ as em
    from inf_553_datamining_mapreduce_spark.session import release_session_blocks
    from tracing import Tracer

    sf = generate(SCALE, 3, str(tmp_path / "in"))
    names = (
        "pricing_summary_sql",
        "label_propagation_customers",
        "media_phash_near_duplicates",
    )

    def hashes():
        out = {}
        for q in names:
            release_session_blocks(spark)
            out[q] = value_hash(em.queries()[q](spark, sf).toPandas())
        return out

    plain = hashes()
    tracer = Tracer(spark.sparkContext)
    tracer.install(em)
    try:
        traced = hashes()
    finally:
        tracer.uninstall()
    assert traced == plain
    layers = {s.layer for s in tracer.spans}
    assert {"readers", "plans_sql", "operators.graph", "operators.multimodal"} <= layers
    # Uninstall restores every original binding.
    assert em.read_parquet_table.__module__.endswith("sources.readers")
    assert not hasattr(em.read_parquet_table, "__wrapped__")

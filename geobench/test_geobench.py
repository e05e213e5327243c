"""Self-tests of the benchmark at a tiny input size.

    python -m pytest geobench -q

Each output check must pass on the program's real output and fail on a
deliberately corrupted one (a zonal row dropped, one admin_id changed), so
a wrong answer cannot pass the gate.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geobench import checks, corpus, kernels  # noqa: E402
from geobench.workloads import WORKLOADS, ZONAL_CELL  # noqa: E402

TINY = {"docs": 400, "points": 3_000}


# ---------------------------------------------------------------------------
# Generators (no Spark)
# ---------------------------------------------------------------------------

def test_padding_adds_no_mention_and_carries_near_misses():
    from core_spark.functions.extract import html_to_text
    from core_spark.functions.geoparse import parse_mentions

    table, truth = corpus.docs_chunk(3, 0, 500)
    texts = [html_to_text(h) for h in table.column("html").to_pylist()]
    assert sum(len(parse_mentions(t)) for t in texts) == truth
    padded = [t for t in texts if t]
    assert all(t.count(", ") >= 10 for t in padded)
    assert sum(1 for t in padded if "�" in t) > 0
    assert sum(1 for t in texts if t is None) > 0


def test_generators_are_pure_functions_of_the_seed():
    a, _ = corpus.docs_chunk(5, 100, 50)
    b, _ = corpus.docs_chunk(5, 100, 50)
    c, _ = corpus.docs_chunk(6, 100, 50)
    assert a.equals(b)
    assert not a.equals(c)
    assert corpus.points_chunk(5, 0, 500).equals(corpus.points_chunk(5, 0, 500))
    assert not corpus.points_chunk(5, 0, 500).equals(corpus.points_chunk(6, 0, 500))


def test_points_put_the_mega_share_in_one_cell():
    from collections import Counter

    from core_spark.functions import hexgrid as hx

    pts = corpus.points_chunk(9, 0, 20_000).to_pandas()
    cells = Counter(hx.latlon_to_cell(pts["lat"].to_numpy(), pts["lon"].to_numpy(), 7))
    top = cells.most_common(1)[0][1] / len(pts)
    assert abs(top - corpus.MEGA_SHARE) < 0.02


def test_check_pass_flags_each_corruption():
    expected = {"truth_rows": 10,
                "zonal": {"cells": 3, "rows": 10, "crc": 99, "max": 5},
                "pip": {"rows": 10, "matched": 4, "admin_sum": 20, "admin_mix": 7}}
    good_z = dict(expected["zonal"], median=3.0)
    good_p = dict(expected["pip"])
    assert checks.check_pass(expected, good_z, good_p, None) == []
    assert checks.check_pass(expected, good_z, good_p, good_z) == []
    assert checks.check_pass(expected, dict(good_z, rows=9), good_p, None)
    assert checks.check_pass(expected, dict(good_z, crc=98), good_p, None)
    assert checks.check_pass(expected, good_z, dict(good_p, admin_sum=21), None)
    assert checks.check_pass(expected, good_z, good_p, dict(good_z, crc=1))


# ---------------------------------------------------------------------------
# The command line and the metric names BENCHMARK.json declares
# ---------------------------------------------------------------------------

def test_benchmark_json_names_what_run_prints():
    from geobench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # points_pip runs on demand but is left out of the declared set: see
    # README.md, "Workloads"
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) - {"points_pip"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "geobench"), tmp_path / "geobench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "geobench/run.py", "--workload", "points_pip",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert r.stdout.strip() == ""


# ---------------------------------------------------------------------------
# Spark: each workload's pass checks clean, and its corruption fails
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from geobench.host import build_session

    s = build_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    workers = kernels.pool(ROOT, 2)
    try:
        return {kind: kernels.make_inputs(workers, kind, 11, n, str(base / kind))
                for kind, n in TINY.items()}
    finally:
        workers.close()
        workers.join()


def _bump_one_admin(df):
    """Move one matched row to the next admin_id."""
    from pyspark.sql import functions as F

    victim = df.filter(F.col("admin_id").isNotNull()).agg(F.min("doc_id")).first()[0]
    assert victim is not None
    return df.withColumn(
        "admin_id",
        F.when(F.col("doc_id") == victim, F.col("admin_id") + 1)
        .otherwise(F.col("admin_id")))


def _drop_one_cell(zonal):
    from pyspark.sql import functions as F

    cell = zonal.agg(F.min(ZONAL_CELL)).first()[0]
    return zonal.filter(F.col(ZONAL_CELL) != cell)


def _assert_gate(inp, zonal_df, pip_df):
    from core_spark.operators.zonal import zonal_rollup

    exp = inp["expected"]
    good_z = checks.zonal_summary(zonal_df, ZONAL_CELL)
    good_p = checks.pip_summary(pip_df)
    assert checks.check_pass(exp, good_z, good_p, None) == []
    dropped = checks.zonal_summary(_drop_one_cell(zonal_df), ZONAL_CELL)
    assert checks.check_pass(exp, dropped, good_p, None)
    bumped = _bump_one_admin(pip_df)
    assert checks.check_pass(exp, good_z, checks.pip_summary(bumped), None)
    # a changed admin_id also changes nothing the zonal check could see
    rezoned = checks.zonal_summary(zonal_rollup(bumped, cell_col=ZONAL_CELL), ZONAL_CELL)
    assert checks.compare("z", rezoned, good_z, checks.ZONAL_KEYS) == []


def test_flagship_fused_gate(spark, inputs):
    w = WORKLOADS["flagship_fused"]()
    inp = inputs["docs"]
    src = w.open(spark, inp)
    res = w.full_pass(spark, src, "")
    assert checks.check_pass(inp["expected"], res["zonal"], res["pip"], None) == []
    mentions, zonal = w._pipeline(src)
    _assert_gate(inp, zonal, mentions)


def test_flagship_staged_gate_and_agreement_with_fused(spark, inputs, tmp_path):
    inp = inputs["docs"]
    staged = WORKLOADS["flagship_staged"]()
    src = staged.open(spark, inp)
    res = staged.full_pass(spark, src, str(tmp_path))
    assert checks.check_pass(inp["expected"], res["zonal"], res["pip"], None) == []
    fused = WORKLOADS["flagship_fused"]().full_pass(spark, src, "")
    assert res["zonal"] == fused["zonal"]
    assert res["pip"] == fused["pip"]

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    exp = inp["expected"]
    zonal = pq.read_table(os.path.join(res["run_dir"], "zonal"))
    pq.write_table(zonal.slice(1), tmp_path / "dropped.parquet")
    dropped = checks.zonal_summary_parquet(str(tmp_path / "dropped.parquet"), ZONAL_CELL)
    assert checks.check_pass(exp, dropped, res["pip"], None)
    pip = pq.read_table(os.path.join(res["run_dir"], "pip"))
    aid = pip.column("admin_id")
    first = pc.index(pc.is_valid(aid), True).as_py()
    bumped = aid.to_pylist()
    bumped[first] += 1
    pq.write_table(pip.set_column(pip.schema.get_field_index("admin_id"), "admin_id",
                                  pa.array(bumped, aid.type)), tmp_path / "bumped.parquet")
    bumped_stats = checks.pip_summary_parquet(str(tmp_path / "bumped.parquet"))
    assert checks.check_pass(exp, res["zonal"], bumped_stats, None)
    staged.cleanup(res)
    assert not os.path.exists(res["run_dir"])


def test_points_pip_gate(spark, inputs):
    from core_spark.operators.zonal import zonal_rollup

    w = WORKLOADS["points_pip"]()
    inp = inputs["points"]
    src = w.open(spark, inp)
    res = w.full_pass(spark, src, "")
    assert res["zonal"]["rows"] == TINY["points"]
    assert checks.check_pass(inp["expected"], res["zonal"], res["pip"], None) == []
    joined = w._joined(src)
    _assert_gate(inp, zonal_rollup(joined, cell_col=ZONAL_CELL), joined)

"""The three workloads: a full pass each, and the subtractive layer chain.

Each full pass is what a user runs, from the parquet scan to the zonal
rollup, ended by one small aggregate over the rollup that both consumes
every row and feeds the output check (``checks``).

The layer chain times a sequence of actions over the same scan, each adding
one layer to the one before (scan -> noop, + identity ``mapInArrow``, + the
kernel or stage, + zonal). Spark evaluates lazily, so a layer's time is the
difference between two actions. The chain ends with the full pass, so the
layer times add up to it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from geobench import checks

POLYGONS = 96
ZONAL_CELL = "h3_r7"
DOC_COLS = ("doc_id", "url", "lang", "html")
POINT_COLS = ("doc_id", "lang", "lat", "lon")
STAGES = ("extract", "mentions", "tiles", "pip", "zonal")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def identity_arrow(df):
    """The Arrow round trip a Python map stage pays, with no work in it."""
    return df.mapInArrow(_identity, df.schema)


def polygons():
    from core_spark.data.polygons import admin_polygons

    return admin_polygons(POLYGONS)


class Probe:
    """Runs one action under its own job group and span; returns the
    action's wall time, the tasks it launched and its result."""

    def __init__(self, spark, tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.n = 0

    def __call__(self, name: str, fn):
        self.n += 1
        group = f"geobench-{self.n}"
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(f"pass.{name}"):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return wall, tasks, out


class Workload:
    name: str
    kind: str  # input generator: "docs" or "points"
    rows: int  # input rows per run

    def open(self, spark, inputs):
        return spark.read.parquet(inputs["dir"])

    def full_pass(self, spark, src, workdir: str) -> dict:
        """Run one pass; returns wall_s plus the zonal and pip summaries."""
        raise NotImplementedError

    def layers(self, spark, src, workdir: str, probe: Probe) -> dict:
        """One round of the subtractive chain; returns layer metrics and the
        final full pass under ``"pass"``."""
        raise NotImplementedError

    def cleanup(self, res: dict) -> None:
        """Drop what a pass left on disk, once it has been checked."""


class FlagshipFused(Workload):
    name = "flagship_fused"
    kind = "docs"
    rows = 12_000

    def _pipeline(self, src, observation=None):
        from core_spark.functions.fused import fused_pipeline
        from core_spark.operators.zonal import zonal_rollup

        mentions = fused_pipeline(src, polygons())
        if observation is not None:
            mentions = mentions.observe(observation, *checks.pip_metric_exprs())
        return mentions, zonal_rollup(mentions, cell_col=ZONAL_CELL)

    def full_pass(self, spark, src, workdir):
        from pyspark.sql import Observation

        obs = Observation("pip")
        t0 = time.perf_counter()
        _, zonal = self._pipeline(src, obs)
        summary = checks.zonal_summary(zonal, ZONAL_CELL)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "zonal": summary, "pip": obs.get}

    def layers(self, spark, src, workdir, probe):
        cols = src.select(*DOC_COLS)
        m = {}
        scan_s, m["scan.tasks"], _ = probe("scan", lambda: noop(cols))
        arrow_s, m["arrow.python_tasks"], _ = probe(
            "arrow", lambda: noop(identity_arrow(cols)))
        kernel_s, kernel_tasks, _ = probe(
            "kernel", lambda: noop(self._pipeline(src)[0]))
        _, full_tasks, res = probe("full", lambda: self.full_pass(spark, src, workdir))
        m["scan.wall_s"] = scan_s
        m["arrow.wall_s"] = arrow_s - scan_s
        m["fused.kernel_wall_s"] = kernel_s - scan_s
        m["zonal.wall_s"] = res["wall_s"] - kernel_s
        m["zonal.tasks"] = full_tasks - kernel_tasks
        return {"metrics": m, "pass": res}


class PointsPip(Workload):
    name = "points_pip"
    kind = "points"
    rows = 20_000

    def _tiled(self, src):
        from core_spark.operators.tiles import assign_tiles

        return assign_tiles(src.select(*POINT_COLS))

    def _joined(self, src, observation=None):
        from core_spark.operators.pip import pip_join

        joined = pip_join(self._tiled(src), polygons())
        if observation is not None:
            joined = joined.observe(observation, *checks.pip_metric_exprs())
        return joined

    def full_pass(self, spark, src, workdir):
        from pyspark.sql import Observation

        from core_spark.operators.zonal import zonal_rollup

        obs = Observation("pip")
        t0 = time.perf_counter()
        zonal = zonal_rollup(self._joined(src, obs), cell_col=ZONAL_CELL)
        summary = checks.zonal_summary(zonal, ZONAL_CELL)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "zonal": summary, "pip": obs.get}

    def layers(self, spark, src, workdir, probe):
        cols = src.select(*POINT_COLS)
        m = {}
        scan_s, m["scan.tasks"], _ = probe("scan", lambda: noop(cols))
        tiles_s, _, _ = probe("tiles", lambda: noop(self._tiled(src)))
        arrow_s, m["arrow.python_tasks"], _ = probe(
            "arrow", lambda: noop(identity_arrow(self._tiled(src))))
        pip_s, pip_tasks, _ = probe("pip", lambda: noop(self._joined(src)))
        _, full_tasks, res = probe("full", lambda: self.full_pass(spark, src, workdir))
        m["scan.wall_s"] = scan_s
        m["tiles.sql_wall_s"] = tiles_s - scan_s
        m["arrow.wall_s"] = arrow_s - tiles_s
        m["pip.stage_wall_s"] = pip_s - tiles_s
        m["zonal.wall_s"] = res["wall_s"] - pip_s
        m["zonal.tasks"] = full_tasks - pip_tasks
        return {"metrics": m, "pass": res}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class FlagshipStaged(Workload):
    """``run_pipeline`` into a fresh work directory on every pass: every
    stage writes parquet and a manifest, as a resumable production run."""

    name = "flagship_staged"
    kind = "docs"
    rows = 4_000

    def __init__(self):
        self._passes = 0

    def full_pass(self, spark, src, workdir):
        from core_spark.plans.pipeline import run_pipeline

        self._passes += 1
        run_dir = os.path.join(workdir, f"staged-{self._passes}")
        t0 = time.perf_counter()
        out = run_pipeline(spark, run_dir, docs_df=src)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            # the stages are on disk: read them back without another job
            "zonal": checks.zonal_summary_parquet(os.path.join(run_dir, "zonal"), ZONAL_CELL),
            "pip": checks.pip_summary_parquet(os.path.join(run_dir, "pip")),
            "manifest": {m["stage"]: m for m in out["_manifest"].metrics()},
            "bytes_written": sum(_dir_bytes(os.path.join(run_dir, s)) for s in STAGES),
            "run_dir": run_dir,
        }

    def layers(self, spark, src, workdir, probe):
        from core_spark.operators.zonal import zonal_rollup

        m = {}
        scan_s, m["scan.tasks"], _ = probe("scan", lambda: noop(src))
        arrow_s, m["arrow.python_tasks"], _ = probe(
            "arrow", lambda: noop(identity_arrow(src)))
        _, _, res = probe("full", lambda: self.full_pass(spark, src, workdir))
        man = res["manifest"]
        for s in STAGES:
            m[f"staged.{s}.wall_s"] = man[s]["wall_ms"] / 1000.0
            m[f"staged.{s}.rows"] = man[s]["row_count"]
        m["staged.other_wall_s"] = res["wall_s"] - sum(
            m[f"staged.{s}.wall_s"] for s in STAGES)
        m["staged.bytes_written"] = res["bytes_written"]
        m["scan.wall_s"] = scan_s
        m["arrow.wall_s"] = arrow_s - scan_s
        m["tiles.sql_wall_s"] = m["staged.tiles.wall_s"]
        m["pip.stage_wall_s"] = m["staged.pip.wall_s"]
        m["zonal.wall_s"] = m["staged.zonal.wall_s"]
        pip_df = spark.read.parquet(os.path.join(res["run_dir"], "pip"))
        _, m["zonal.tasks"], _ = probe(
            "zonal-replay", lambda: noop(zonal_rollup(pip_df, cell_col=ZONAL_CELL)))
        return {"metrics": m, "pass": res}

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["run_dir"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (FlagshipFused, FlagshipStaged, PointsPip)}

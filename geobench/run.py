"""Benchmark of the geotile pipeline on generated inputs, sized to the host.

    python3 geobench/run.py --workload flagship_fused --seed 1 --seconds 12 --trace 0

Run from the repository root. One run:

1. generates the seed's inputs as parquet with their expected results
   (untimed: it stands in for the input table);
2. sets up once: session start, opening the input and ``WARMUPS`` untimed
   passes, reported as ``setup_s``;
3. with ``--trace 0``, repeats the full pass for ``--seconds`` (at least
   ``MIN_PASSES`` times), checks every pass, and reports end-to-end metrics;
   with ``--trace 1``, repeats rounds of the subtractive layer chain plus
   one untraced full pass instead, then times the pure kernels in process
   and the no-Spark ceiling, and reports per-layer metrics; the spans go to
   ``.geobench_out/``.

The last line of standard output is one JSON object: correct, attempted,
failed (passes) and metrics (name -> value, unit). The exit code is 2 when
the program under test cannot be imported.

The run itself is a child of this process, which returns only when every
process the run started has ended (``host.supervise``), then removes the
run's work directory. It stops a run that passes ``DEADLINE_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUPS = 3
MIN_PASSES = 2
MIN_ROUNDS = 2
DEADLINE_S = 165
WORKDIR_ENV = "GEOBENCH_WORKDIR"  # set in the run, by its supervisor
KERNEL_BATCH_DOCS = 1_000
KERNEL_BATCH_POINTS = 20_000

END_TO_END_UNITS = {"rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict:
    from geobench.workloads import STAGES

    units = {
        "scan.wall_s": "s", "scan.tasks": "count",
        "arrow.wall_s": "s", "arrow.python_tasks": "count",
        "extract.ms_per_kdoc": "ms", "extract.docs_in": "count",
        "extract.docs_text": "count", "extract.null_html": "count",
        "extract.replacement_docs": "count",
        "geoparse.ms_per_kdoc": "ms", "geoparse.mentions": "count",
        "geoparse.mentions_per_doc": "ratio",
        "tiles.ms_per_kpoint": "ms", "tiles.sql_wall_s": "s",
        "pip.ms_per_kpoint": "ms", "pip.stage_wall_s": "s",
        "pip.matched_frac": "ratio",
        "fused.kernel_wall_s": "s", "fused.batch_docs_per_s": "1/s",
        "zonal.wall_s": "s", "zonal.rows_in": "count",
        "zonal.cells_out": "count", "zonal.cell_skew": "ratio",
        "zonal.tasks": "count",
    }
    for s in STAGES:
        units[f"staged.{s}.wall_s"] = "s"
        units[f"staged.{s}.rows"] = "count"
    units.update({
        "staged.other_wall_s": "s",
        "staged.bytes_written_per_input_byte": "ratio",
        "ceiling.rows_per_s": "1/s", "hw_ratio": "ratio",
        "trace.overhead_frac": "ratio", "full.wall_s": "s",
        "failed_frac": "ratio",
    })
    return units


class Run:
    """One benchmark run: owns the session and the pass bookkeeping; its
    files go to ``workdir``, which its supervisor removes."""

    def __init__(self, workload, seed: int, seconds: float, tracer, workdir: str):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.workdir = workdir
        self.spark = None
        self.src = None
        self.inputs = None
        self.attempted = 0
        self.failed = 0
        self.first_zonal = None

    # -- inputs and session -------------------------------------------------

    def make_inputs(self) -> None:
        from geobench import kernels
        from geobench.host import host_cpus, use_workdir

        use_workdir(self.workdir)
        with self.tracer.span("generate"):
            workers = kernels.pool(ROOT, host_cpus())
            try:
                self.inputs = kernels.make_inputs(
                    workers, self.w.kind, self.seed, self.w.rows,
                    os.path.join(self.workdir, "input"))
            finally:
                workers.close()
                workers.join()

    def setup(self) -> float:
        """Session start + opening the input + the warm-up passes."""
        from geobench.host import build_session

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.build"):
                self.spark = build_session(self.workdir)
            with self.tracer.span("open"):
                self.src = self.w.open(self.spark, self.inputs)
            warm = []
            for _ in range(WARMUPS):
                with self.tracer.span("warmup"):
                    res = self.checked_pass()
                warm.append(res["wall_s"] if res else float("nan"))
            setup_s = time.perf_counter() - t0
        print(f"set-up {setup_s:.3f} s; warm-up passes (s):",
              *(f"{w:.3f}" for w in warm), file=sys.stderr)
        return setup_s

    def close(self) -> None:
        from geobench.host import shutdown_jvm

        if self.spark is not None:
            self.spark.stop()
        shutdown_jvm()

    # -- passes -------------------------------------------------------------

    def check(self, res: dict) -> list[str]:
        from geobench import checks

        errs = checks.check_pass(self.inputs["expected"], res["zonal"], res["pip"],
                                 self.first_zonal)
        if self.first_zonal is None:
            self.first_zonal = res["zonal"]
        return errs

    def counted(self, fn, pass_of=lambda r: r):
        """Run one call that makes a full pass; count it, check the pass
        (``pass_of(result)``), report failures. Returns the call's result,
        or None when it raised or failed the check."""
        self.attempted += 1
        try:
            res = fn()
        except Exception:  # a failed pass is a measurement, not a crash
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        errs = self.check(pass_of(res))
        self.w.cleanup(pass_of(res))
        if errs:
            self.failed += 1
            print(f"pass {self.attempted} failed its check:", *errs,
                  sep="\n  ", file=sys.stderr)
            return None
        return res

    def checked_pass(self):
        return self.counted(
            lambda: self.w.full_pass(self.spark, self.src, self.workdir))

    # -- the two modes ------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        from geobench.host import RssPeak

        walls, peaks = [], []
        t_end = time.perf_counter() + self.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            with RssPeak() as rss:
                res = self.checked_pass()
            if res is None:
                break
            walls.append(res["wall_s"])
            peaks.append(rss.peak_mb)
        print("timed passes (s):", *(f"{w:.3f}" for w in walls), file=sys.stderr)
        if not walls:
            return {}
        # medians over passes: one pass that catches a short-lived process
        # or a slow moment on a shared host does not set the run's figure
        return {
            "rows_per_s": self.inputs["rows"] / statistics.median(walls),
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(peaks),
        }

    def per_layer(self) -> dict:
        from geobench import kernels
        from geobench.host import host_cpus
        from geobench.workloads import Probe

        probe = Probe(self.spark, self.tracer)
        rounds, untraced = [], []
        t_end = time.perf_counter() + self.seconds
        while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
            layer = self.counted(
                lambda: self.w.layers(self.spark, self.src, self.workdir, probe),
                pass_of=lambda r: r["pass"])
            if layer is None:
                break
            layer["metrics"]["full.wall_s"] = layer["pass"]["wall_s"]
            rounds.append(layer)
            # the same full pass with spans off, for the tracing overhead
            enabled, self.tracer.enabled = self.tracer.enabled, False
            try:
                res = self.checked_pass()
            finally:
                self.tracer.enabled = enabled
            if res is None:
                break
            untraced.append(res["wall_s"])
        m = {k: statistics.median(r["metrics"][k] for r in rounds)
             for k in rounds[0]["metrics"]} if rounds else {}
        last = rounds[-1]["pass"] if rounds else None
        if last is not None:
            z = last["zonal"]
            m["zonal.rows_in"] = z["rows"]
            m["zonal.cells_out"] = z["cells"]
            m["zonal.cell_skew"] = z["max"] / z["median"]
        if "staged.bytes_written" in m:
            m["staged.bytes_written_per_input_byte"] = (
                m.pop("staged.bytes_written") / self.inputs["bytes"])
        rows = self.inputs["rows"]
        rows_per_s = rows / statistics.median(untraced) if untraced else 0.0
        if rounds and untraced:
            m["trace.overhead_frac"] = 1.0 - (rows / m["full.wall_s"]) / rows_per_s

        # the Spark session is done: stop it so the pure kernels and the
        # ceiling have the host to themselves
        self.spark.stop()
        self.spark = None
        m.update(self.kernel_half())
        with self.tracer.span("ceiling"):
            workers = kernels.pool(ROOT, host_cpus())
            try:
                ceiling = kernels.ceiling_rows_per_s(
                    workers, self.w.kind, self.inputs["paths"], repeats=1)
            finally:
                workers.close()
                workers.join()
        m["ceiling.rows_per_s"] = ceiling
        m["hw_ratio"] = rows_per_s / ceiling
        return m

    def kernel_half(self) -> dict:
        """Pure kernels on one batch of this seed's documents and points."""
        import numpy as np
        import pyarrow.parquet as pq

        from geobench import corpus, kernels

        table = pq.read_table(self.inputs["dir"])
        if self.w.kind == "docs":
            docs = table.slice(0, KERNEL_BATCH_DOCS).to_pandas()
            from core_spark.functions.extract import html_to_text
            from core_spark.functions.geoparse import parse_mentions

            pts = [(m["lat"], m["lon"]) for h in docs["html"]
                   for m in parse_mentions(html_to_text(h))]
            lat, lon = (np.array(v, dtype=np.float64) for v in zip(*pts))
        else:
            docs = corpus.docs_chunk(self.seed, 0, KERNEL_BATCH_DOCS)[0].to_pandas()
            pts = table.slice(0, KERNEL_BATCH_POINTS).to_pandas()
            lat = pts["lat"].to_numpy(np.float64)
            lon = pts["lon"].to_numpy(np.float64)
        with self.tracer.span("kernels"):
            return kernels.kernel_layers(docs, lat, lon, self.tracer)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = parse_args(argv)
    workdir = os.environ.get(WORKDIR_ENV)
    if workdir is None:
        sys.path.insert(0, ROOT)
        from geobench.host import supervise

        # removed here, once every process that could write to it has ended
        workdir = os.path.join(ROOT, ".geobench_work", f"{args.workload}-{os.getpid()}")
        try:
            return supervise([sys.executable, os.path.abspath(__file__), *argv],
                             dict(os.environ, **{WORKDIR_ENV: workdir}), DEADLINE_S)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import core_spark.functions.fused  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"geobench: the program under test is not importable: {e}",
              file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from geobench.trace import Tracer
    from geobench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = Tracer(args.trace == 1)
    run = Run(WORKLOADS[args.workload](), args.seed, args.seconds, tracer, workdir)
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            run.make_inputs()
            setup_s = run.setup()
            if args.trace:
                values = run.per_layer()
                values["failed_frac"] = run.failed / run.attempted
                units = per_layer_units()
            else:
                values = run.end_to_end(setup_s)
                units = END_TO_END_UNITS
    finally:
        run.close()
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".geobench_out",
                                 f"trace-{args.workload}-seed{args.seed}.json"))
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

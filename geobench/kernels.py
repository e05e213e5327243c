"""The no-Spark half: input files with their expected results, the
in-process kernel timings, and the host ceiling.

Everything that runs in worker processes is a top-level function taking
plain arguments, because the pool starts its workers with ``spawn``.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from collections import Counter

import numpy as np

from geobench import checks, corpus

RESOLUTIONS = (5, 6, 7, 8, 9)
N_FILES = 8


def worker_init(root: str) -> None:
    if root not in sys.path:
        sys.path.insert(0, root)


def pool(root: str, procs: int):
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    return ctx.Pool(procs, initializer=worker_init, initargs=(root,))


@functools.cache
def polygon_payload():
    """(payload, fingerprint) of the workloads' polygon table, as the
    operators build it; built once per process and never mutated."""
    from core_spark.operators.pip import _fingerprint

    from geobench.workloads import polygons

    payload = [(int(r.admin_id), [list(ring) for ring in r.rings])
               for r in polygons().itertuples()]
    return payload, _fingerprint(payload)


def _fused_reference(pdf) -> tuple:
    from core_spark.functions.fused import fused_batch

    payload, fp = polygon_payload()
    out = fused_batch(pdf, payload, fp)
    aid = out["admin_id"].fillna(-1).to_numpy(dtype=np.int64)
    return (checks.zonal_counts(out["h3_r7"].to_numpy(dtype=np.int64), out["lang"]),
            checks.pip_stats(out["doc_id"], aid))


def _points_reference(pdf) -> tuple:
    from core_spark.functions import hexgrid as hx
    from core_spark.operators.pip import match_points

    payload, fp = polygon_payload()
    lat = pdf["lat"].to_numpy(np.float64)
    lon = pdf["lon"].to_numpy(np.float64)
    cells = hx.latlon_to_cell(lat, lon, 7)
    aid = match_points(lon, lat, payload, fp=fp)
    return (checks.zonal_counts(cells, pdf["lang"]),
            checks.pip_stats(pdf["doc_id"], aid))


def make_file(kind: str, seed: int, start: int, n: int, path: str) -> dict:
    """Generate one input file and the expected results for its rows."""
    if kind == "docs":
        table, truth = corpus.docs_chunk(seed, start, n)
        zonal, pip = _fused_reference(table.to_pandas())
    else:
        table = corpus.points_chunk(seed, start, n)
        truth = n
        zonal, pip = _points_reference(table.to_pandas())
    return {"bytes": corpus.write_chunk(path, table), "truth_rows": truth,
            "zonal": zonal, "pip": pip}


def make_inputs(workers, kind: str, seed: int, n_rows: int, dirpath: str) -> dict:
    """Write the seed's input as ``N_FILES`` parquet files; returns the
    paths and the expected results for the whole input."""
    os.makedirs(dirpath, exist_ok=True)
    per = -(-n_rows // N_FILES)
    jobs = []
    for i in range(N_FILES):
        start = i * per
        n = min(per, n_rows - start)
        path = os.path.join(dirpath, f"part-{i:03d}.parquet")
        jobs.append((path, workers.apply_async(make_file, (kind, seed, start, n, path))))
    zonal = Counter()
    pip = {}
    truth = nbytes = 0
    paths = []
    for path, job in jobs:
        r = job.get()
        paths.append(path)
        nbytes += r["bytes"]
        truth += r["truth_rows"]
        zonal.update(r["zonal"])
        pip = checks.add_stats(pip, r["pip"])
    return {
        "dir": dirpath, "paths": paths, "rows": n_rows, "bytes": nbytes,
        "expected": {"truth_rows": truth, "zonal": checks.expected_zonal(zonal),
                     "pip": pip},
    }


# ---------------------------------------------------------------------------
# Host ceiling: the same kernels over the same parquet, N processes, no Spark
# ---------------------------------------------------------------------------

def ceiling_file(kind: str, path: str) -> int:
    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas()
    if kind == "docs":
        from core_spark.functions.fused import fused_batch

        payload, fp = polygon_payload()
        fused_batch(pdf, payload, fp)
    else:
        from core_spark.functions import hexgrid as hx
        from core_spark.operators.pip import match_points

        payload, fp = polygon_payload()
        lat = pdf["lat"].to_numpy(np.float64)
        lon = pdf["lon"].to_numpy(np.float64)
        for res in RESOLUTIONS:
            hx.latlon_to_cell(lat, lon, res)
        match_points(lon, lat, payload, fp=fp)
    return len(pdf)


def ceiling_rows_per_s(workers, kind: str, paths: list[str], repeats: int) -> float:
    """Median rows/s of ``repeats`` passes after one warm-up pass."""
    rates = []
    for i in range(repeats + 1):
        t0 = time.perf_counter()
        rows = sum(workers.starmap(ceiling_file, [(kind, p) for p in paths]))
        if i:
            rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates)


# ---------------------------------------------------------------------------
# In-process half: each pure kernel on one fixed batch, one core
# ---------------------------------------------------------------------------

def _median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_layers(docs_pdf, lat: np.ndarray, lon: np.ndarray, tracer,
                  repeats: int = 3) -> dict:
    """Per-kernel timings and counts on one batch of documents and one batch
    of points. ``docs_pdf`` has doc_id, url, lang, html."""
    from core_spark.functions import hexgrid as hx
    from core_spark.functions.extract import html_to_text
    from core_spark.functions.fused import fused_batch
    from core_spark.functions.geoparse import parse_mentions
    from core_spark.operators.pip import match_points

    payload, fp = polygon_payload()
    htmls = list(docs_pdf["html"])
    n_docs = len(htmls)
    texts = [html_to_text(h) for h in htmls]
    mentions = [parse_mentions(t) for t in texts]
    n_pts = len(lat)
    out = {}
    with tracer.span("kernel.extract"):
        t = _median_time(lambda: [html_to_text(h) for h in htmls], repeats)
    out["extract.ms_per_kdoc"] = t * 1e6 / n_docs
    out["extract.docs_in"] = n_docs
    out["extract.docs_text"] = sum(x is not None for x in texts)
    out["extract.null_html"] = sum(h is None for h in htmls)
    out["extract.replacement_docs"] = sum(1 for x in texts if x and "�" in x)
    with tracer.span("kernel.geoparse"):
        t = _median_time(lambda: [parse_mentions(x) for x in texts], repeats)
    n_mentions = sum(len(m) for m in mentions)
    out["geoparse.ms_per_kdoc"] = t * 1e6 / n_docs
    out["geoparse.mentions"] = n_mentions
    out["geoparse.mentions_per_doc"] = n_mentions / n_docs
    with tracer.span("kernel.tiles"):
        t = _median_time(
            lambda: [hx.latlon_to_cell(lat, lon, r) for r in RESOLUTIONS], repeats)
    out["tiles.ms_per_kpoint"] = t * 1e6 / n_pts
    with tracer.span("kernel.pip"):
        t = _median_time(lambda: match_points(lon, lat, payload, fp=fp), repeats)
    aid = match_points(lon, lat, payload, fp=fp)
    out["pip.ms_per_kpoint"] = t * 1e6 / n_pts
    out["pip.matched_frac"] = float((aid >= 0).mean())
    with tracer.span("kernel.fused"):
        t = _median_time(lambda: fused_batch(docs_pdf, payload, fp), repeats)
    out["fused.batch_docs_per_s"] = n_docs / t
    return out

"""The fused flagship kernel: html -> text -> mentions -> tiles -> PIP in ONE
Python stage.

Why fused (measured, scripts/scaling_bench.py history): Spark pipelines a
narrow chain of mapInPandas stages into a single task stage with one Python
worker PER PYTHON STAGE chained through the JVM — two back-to-back Python
stages anti-scale (local[32] slower than local[8]) because every task holds
two workers in lock-step batch handoff. Fusing the per-document Python work
into one kernel gives each task exactly one worker; the downstream zonal
rollup stays JVM-side. This is the idiomatic shape for a 10^12-row pipeline:

    scan -> [ONE vectorized Python stage] -> JVM shuffle/agg

The kernel chains the same batch functions the staged (manifest) pipeline
runs one stage each — extract.extract_batch, geoparse.mentions_batch and
pip.admin_ids — so the two paths cannot drift apart. Tiles are numpy
hexgrid.latlon_to_cell here and SQL in the staged path; tests/test_fused.py
proves the two pipelines row-identical. The staged pipeline never hits the
chaining problem because each stage materializes to parquet (separate jobs);
use fused for single-pass throughput, staged for resumable production runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from core_spark.functions import hexgrid as hx
from core_spark.functions.extract import extract_batch
from core_spark.functions.geoparse import mentions_batch
from core_spark.operators.pip import admin_ids, polygon_payload

FUSED_SCHEMA = (
    "doc_id bigint, url string, lang string, mention_idx int, "
    "lat double, lon double, kind string, "
    "h3_r5 bigint, h3_r6 bigint, h3_r7 bigint, h3_r8 bigint, h3_r9 bigint, "
    "admin_id bigint"
)

RESOLUTIONS = (5, 6, 7, 8, 9)


def fused_batch(pdf: pd.DataFrame, payload, payload_fp: int) -> pd.DataFrame:
    """Pure batch kernel: corpus rows -> mention rows with tiles + admin."""
    m = mentions_batch(extract_batch(pdf["html"])["text"])
    rows = m["row"]
    lat, lon = m["lat"], m["lon"]
    out = {
        "doc_id": pd.array(pdf["doc_id"].to_numpy()[rows], dtype="int64"),
        "url": pdf["url"].to_numpy()[rows],
        "lang": pdf["lang"].to_numpy()[rows],
        "mention_idx": m["mention_idx"],
        "lat": lat,
        "lon": lon,
        "kind": m["kind"],
    }
    for res in RESOLUTIONS:
        cells = hx.latlon_to_cell(lat, lon, res).astype(np.int64)
        out[f"h3_r{res}"] = pd.arrays.IntegerArray(cells, mask=(cells == -1))
    out["admin_id"] = admin_ids(lon, lat, payload, payload_fp)
    return pd.DataFrame(out)


def fused_pipeline(docs_df, polygons: pd.DataFrame):
    """docs (doc_id,url,html,lang) -> mention rows (FUSED_SCHEMA)."""
    payload, fp = polygon_payload(polygons)

    def run(batches):
        for pdf in batches:
            yield fused_batch(pdf, payload, fp)

    return docs_df.select("doc_id", "url", "lang", "html").mapInPandas(
        run, FUSED_SCHEMA
    )

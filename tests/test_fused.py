"""Fused single-stage pipeline must equal the staged pipeline row-for-row."""

from __future__ import annotations

import datetime

import pytest

from core_spark.data import synth
from core_spark.data.polygons import admin_polygons

# Edge documents appended to the synthetic corpus: NULL html, invalid UTF-8
# around a mention (the replacement-char path), and one doc carrying each
# mention kind.
_EDGE_DOCS = [
    (900_000_001, "https://edge.test/null", None, "en"),
    (
        900_000_002,
        "https://edge.test/bad-utf8",
        b"<p>caf\xff\xfe \xc3 at 40.712800, -74.006000 \x80\x80</p>",
        "fr",
    ),
    (
        900_000_003,
        "https://edge.test/kinds",
        "<p>dec 48.856600, 2.352200; uri geo:51.5074,-0.1278; "
        "dms 40°26'46.0\"N 79°58'56.0\"W</p>".encode(),
        None,
    ),
]


@pytest.mark.spark
class TestFused:
    def test_fused_equals_staged(self, spark):
        from pyspark.sql import functions as F

        from core_spark.functions.extract import with_extracted_text
        from core_spark.functions.fused import fused_pipeline
        from core_spark.functions.geoparse import with_mentions
        from core_spark.operators.pip import pip_join
        from core_spark.operators.tiles import assign_tiles

        polys = admin_polygons(96)
        synth_docs = synth.webpages_spark(spark, 400, 4).select(
            "doc_id", "url", "warc_ts", "html", "lang"
        )
        ts = datetime.datetime(2024, 1, 1)
        edge = spark.createDataFrame(
            [(d, u, ts, h, lang) for d, u, h, lang in _EDGE_DOCS], synth_docs.schema
        )
        docs = synth_docs.unionByName(edge)

        fused = (
            fused_pipeline(docs, polys)
            .orderBy("doc_id", "mention_idx")
            .collect()
        )

        extracted = with_extracted_text(docs)
        errors = {
            r.doc_id: r.extract_error
            for r in extracted.filter(F.col("doc_id") >= 900_000_000).collect()
        }
        assert errors == {900_000_001: "null_html", 900_000_002: None, 900_000_003: None}
        mentions = with_mentions(
            extracted.filter(F.col("extract_error").isNull()),
            key_cols=("doc_id", "url", "lang"),
        )
        tiled = assign_tiles(mentions, resolutions=(5, 6, 7, 8, 9))
        staged = (
            pip_join(tiled, polys)
            .select(
                "doc_id", "url", "lang", "mention_idx", "lat", "lon", "kind",
                "h3_r5", "h3_r6", "h3_r7", "h3_r8", "h3_r9", "admin_id",
            )
            .orderBy("doc_id", "mention_idx")
            .collect()
        )
        assert len(fused) > 0
        assert fused == staged

        edge_rows = [r for r in fused if r.doc_id >= 900_000_000]
        assert [(r.doc_id, r.kind) for r in edge_rows] == [
            (900_000_002, "dec"),
            (900_000_003, "dec"),
            (900_000_003, "geo"),
            (900_000_003, "dms"),
        ]
        assert edge_rows[0].lang == "fr" and edge_rows[1].lang is None

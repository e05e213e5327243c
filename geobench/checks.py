"""Output checks: what Spark produced against what the inputs imply.

Both sides reduce the output to the same few order-independent numbers, so
checking a pass costs one small aggregate (or, for output already written to
parquet, one read of it) and nothing is collected row by row:

* zonal rows -> (cells, sum of doc_count, sum of crc32 over a canonical row
  string, max doc_count). The crc32 sum changes if any row is dropped,
  duplicated, moved to another cell or given other language counts.
* PIP rows -> (rows, matched, sum of admin_id, sum of a doc_id x admin_id
  mix). Changing one admin_id, or moving it to another document, changes
  the sums.

The expected side is computed without Spark, by the pure kernels over the
generated parquet (``kernels``), and the synth ground truth gives the
mention total independently of every kernel.
"""

from __future__ import annotations

import statistics
import zlib
from collections import Counter

_MIX_MOD = 2147483647

ZONAL_KEYS = ("cells", "rows", "crc", "max")
PIP_KEYS = ("rows", "matched", "admin_sum", "admin_mix")


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def zonal_summary(zonal_df, cell_col: str) -> dict:
    """One aggregate action over ``zonal_rollup`` output."""
    from pyspark.sql import functions as F

    langs = F.array_join(
        F.transform(
            F.map_entries("lang_counts"),
            lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
        ),
        ",",
    )
    row = F.concat_ws(
        "|",
        F.coalesce(F.col(cell_col).cast("string"), F.lit("null")),
        F.col("doc_count").cast("string"),
        langs,
    )
    return zonal_df.agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("doc_count").alias("rows"),
        F.sum(F.crc32(row.cast("binary"))).alias("crc"),
        F.max("doc_count").alias("max"),
        F.median("doc_count").alias("median"),
    ).first().asDict()


def pip_metric_exprs():
    """Aggregates over PIP output rows (doc_id, admin_id); usable both in
    ``DataFrame.observe`` and in a plain ``agg``."""
    from pyspark.sql import functions as F

    mix = F.pmod(F.col("doc_id") * (F.col("admin_id") + 1), F.lit(_MIX_MOD))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.count("admin_id").alias("matched"),
        F.coalesce(F.sum("admin_id"), F.lit(0)).alias("admin_sum"),
        F.coalesce(F.sum(mix), F.lit(0)).alias("admin_mix"),
    ]


def pip_summary(pip_df) -> dict:
    return pip_df.agg(*pip_metric_exprs()).first().asDict()


# ---------------------------------------------------------------------------
# Expected side (no Spark)
# ---------------------------------------------------------------------------

def zonal_counts(cells, langs) -> Counter:
    """(cell, lang) -> rows, the first phase of ``zonal_rollup``."""
    return Counter(zip((int(c) for c in cells), langs))


def zonal_rows_summary(rows) -> dict:
    """``zonal_summary`` of (cell, doc_count, [(lang, n), ...]) rows."""
    counts = []
    crc = 0
    for cell, count, langs in rows:
        counts.append(count)
        body = ",".join(f"{k}:{v}" for k, v in sorted(langs))
        crc += zlib.crc32(f"{'null' if cell is None else cell}|{count}|{body}".encode())
    return {"cells": len(counts), "rows": sum(counts), "crc": crc,
            "max": max(counts, default=None),
            "median": statistics.median(counts) if counts else None}


def expected_zonal(counts: Counter) -> dict:
    per_cell: dict[int, dict[str, int]] = {}
    for (cell, lang), n in counts.items():
        per_cell.setdefault(cell, {})[lang] = n
    return zonal_rows_summary(
        (cell, sum(langs.values()), langs.items()) for cell, langs in per_cell.items())


def zonal_summary_parquet(path: str, cell_col: str) -> dict:
    """``zonal_summary`` of a written rollup, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[cell_col, "doc_count", "lang_counts"])
    return zonal_rows_summary(zip(t.column(cell_col).to_pylist(),
                                  t.column("doc_count").to_pylist(),
                                  t.column("lang_counts").to_pylist()))


def pip_summary_parquet(path: str) -> dict:
    """``pip_summary`` of written PIP rows, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "admin_id"])
    return pip_stats(t.column("doc_id").to_pylist(),
                     (-1 if a is None else a for a in t.column("admin_id").to_pylist()))


def pip_stats(doc_ids, admin_ids) -> dict:
    """The ``pip_metric_exprs`` numbers for PIP output given as admin ids
    with -1 for no match."""
    rows = matched = admin_sum = admin_mix = 0
    for d, a in zip(doc_ids, admin_ids):
        rows += 1
        a = int(a)
        if a >= 0:
            matched += 1
            admin_sum += a
            admin_mix += (int(d) * (a + 1)) % _MIX_MOD
    return {"rows": rows, "matched": matched, "admin_sum": admin_sum,
            "admin_mix": admin_mix}


def add_stats(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b[k] for k in b}


# ---------------------------------------------------------------------------
# Comparison
# ---------------------------------------------------------------------------

def compare(label: str, got: dict, want: dict, keys) -> list[str]:
    return [
        f"{label}.{k}: got {got.get(k)!r}, want {want[k]!r}"
        for k in keys
        if got.get(k) != want[k]
    ]


def check_pass(expected: dict, zonal: dict, pip: dict,
               first_zonal: dict | None) -> list[str]:
    """Every failed condition of one pass, as readable strings.

    ``expected`` holds ``zonal`` and ``pip`` (kernel reference) and
    ``truth_rows`` (mentions or points the generator put in). ``first_zonal``
    is the first pass's summary of this run, for the across-pass check."""
    errs = []
    if zonal.get("rows") != expected["truth_rows"]:
        errs.append(f"zonal doc_count total {zonal.get('rows')!r} != "
                    f"generated {expected['truth_rows']}")
    errs += compare("zonal", zonal, expected["zonal"], ZONAL_KEYS)
    errs += compare("pip", pip, expected["pip"], PIP_KEYS)
    if first_zonal is not None:
        errs += compare("zonal-vs-first-pass", zonal, first_zonal, ZONAL_KEYS)
    return errs

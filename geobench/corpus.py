"""Seeded input generators for the benchmark workloads.

Inputs are written to parquet before anything is timed: the parquet files
stand in for the Iceberg table a production run scans, and the program under
test sees only them. Every generator is a pure function of (seed, size).

Why each input property is there:

* Prose padding (``PAD_SENTENCES`` per document). Raw synth pages carry
  ``", "`` only inside coordinate mentions, so a geoparse guard keyed on
  ``", "`` would skip nearly all the work on synth and almost none on real
  Common-Crawl text. The padding puts ``", "`` every few words and near-miss
  numerals (``12.5, 7``) in every page, none of which is a mention: the
  benchmark's mention-count check (zonal doc_count total == synth
  n_mentions) proves the padding adds no mention.
* NULL html (``NULL_HTML_SHARE``). Real tables have rows with no body; the
  extract layer must count them, not crash on them.
* Invalid UTF-8 (``BAD_UTF8_SHARE``). Real crawls carry mis-declared
  encodings; extract decodes them with U+FFFD replacement. The bytes sit in
  the padding, away from mentions, so they change no mention.
* Mega-cell share (``MEGA_SHARE`` of points). Dense urban cells skew the
  zonal shuffle; 30% of points jittered inside one res-7 cell makes one
  reducer key hold that share of the rows.
"""

from __future__ import annotations

import os

import numpy as np

PAD_SENTENCES = 12
NULL_HTML_SHARE = 0.01
BAD_UTF8_SHARE = 0.02
MEGA_SHARE = 0.30

_POOL_SIZE = 512
_PROSE_WORDS = (
    "the a of and to in for on with as by from at this that which was were "
    "city council report market weather traffic season school museum river "
    "hotel review price street station music game event photo story page "
    "update team local new old public open early late north south small "
    "large daily weekly annual free best near more most other"
).split()
_BAD_BYTES = (b"\xff\xfe", b"\xe2\x82", b"\xc3", b"\x80\x80")


def _seed_offset(seed: int) -> int:
    """Disjoint doc-id range per seed; bounded so ids stay far below 2**53."""
    return (seed % 100_000) * 10_000_000


def _near_miss(rng: np.random.Generator) -> str:
    """A numeral pair shaped like a decimal mention that is never one: one
    side always lacks its fractional part, and values stay below 100 so no
    digit run can be read as a shorter match."""
    a, b = int(rng.integers(1, 90)), int(rng.integers(0, 100))
    c = int(rng.integers(0, 90))
    if rng.random() < 0.5:
        return f"{a}.{b}, {c}"
    return f"{c}, {a}.{b}"


def prose_pool(seed: int) -> list[bytes]:
    """``_POOL_SIZE`` sentences with ``", "`` every 3-5 words and a near-miss
    numeral in about one sentence in three. Numerals are always followed and
    preceded by a plain word, so no two numerals are ever adjacent."""
    rng = np.random.default_rng([seed, 1])
    pool = []
    for _ in range(_POOL_SIZE):
        words = []
        gap = int(rng.integers(3, 6))
        for j in range(int(rng.integers(10, 18))):
            words.append(_PROSE_WORDS[int(rng.integers(len(_PROSE_WORDS)))])
            if (j + 1) % gap == 0:
                words[-1] += ","
        if rng.random() < 0.34:
            k = int(rng.integers(1, len(words) - 1))
            words.insert(k, _near_miss(rng))
        words[0] = words[0].rstrip(",").capitalize()
        words[-1] = words[-1].rstrip(",") + "."
        pool.append(" ".join(words).encode())
    return pool


def docs_chunk(seed: int, start: int, n: int):
    """Padded synth pages ``[start, start+n)`` of the seed's corpus.

    Returns (arrow table with doc_id, url, warc_ts, html, lang; the synth
    ``n_mentions`` of every non-NULL document summed)."""
    import pyarrow as pa

    from core_spark.data.synth import gen_batch

    base = _seed_offset(seed)
    pdf = gen_batch(np.arange(base + start, base + start + n, dtype=np.uint64))
    rng = np.random.default_rng([seed, 2, start])
    pool = prose_pool(seed)
    picks = rng.integers(0, _POOL_SIZE, size=(n, PAD_SENTENCES))
    null_html = rng.random(n) < NULL_HTML_SHARE
    bad_utf8 = rng.random(n) < BAD_UTF8_SHARE
    bad_pick = rng.integers(0, len(_BAD_BYTES), size=n)
    htmls = []
    for i, html in enumerate(pdf["html"]):
        if null_html[i]:
            htmls.append(None)
            continue
        sentences = [pool[j] for j in picks[i]]
        if bad_utf8[i]:
            sentences[PAD_SENTENCES // 2] += b" " + _BAD_BYTES[bad_pick[i]]
        pad = b"<p>" + b" ".join(sentences) + b"</p>"
        cut = html.rindex(b"\n</div>")
        htmls.append(html[:cut] + b"\n" + pad + html[cut:])
    table = pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], pa.int64()),
            "url": pa.array(pdf["url"], pa.string()),
            "warc_ts": pa.array(pdf["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "lang": pa.array(pdf["lang"], pa.string()),
        }
    )
    mentions = int(pdf["n_mentions"].to_numpy()[~null_html].sum())
    return table, mentions


def points_chunk(seed: int, start: int, n: int):
    """Pre-geocoded points ``[start, start+n)``: doc_id, lang, lat, lon.

    ``MEGA_SHARE`` of them are jittered inside one res-7 cell, the synth
    corpus's first urban mega-center for every seed, so that seeds differ in
    which points they draw but not in how much of the PIP and zonal work
    lands on the hot cell; the rest are area-uniform over the globe."""
    import pyarrow as pa

    from core_spark.data.synth import _LANG_CUM, LANGS, MEGA_CENTERS
    from core_spark.functions import hexgrid as hx

    mlat, mlon = MEGA_CENTERS[0]
    cell = hx.latlon_to_cell(np.array([mlat]), np.array([mlon]), 7)
    clat, clon = (float(v[0]) for v in hx.cell_to_center(cell))
    # well inside the hexagon: a tenth of the res-7 circumradius
    r = 0.1 * hx.RES0_SIZE / hx.SQRT7 ** 7

    rng = np.random.default_rng([seed, 4, start])
    mega = rng.random(n) < MEGA_SHARE
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.where(mega, clat + rng.uniform(-r, r, n), lat)
    lon = np.where(mega, clon + rng.uniform(-r, r, n), lon)
    lang = np.searchsorted(_LANG_CUM, rng.random(n), side="right").clip(0, 9)
    return pa.table(
        {
            "doc_id": pa.array(
                np.arange(start, start + n, dtype=np.int64) + _seed_offset(seed)
            ),
            "lang": pa.array([LANGS[j] for j in lang], pa.string()),
            "lat": pa.array(np.round(lat, 6)),
            "lon": pa.array(np.round(lon, 6)),
        }
    )


def write_chunk(path: str, table) -> int:
    """Write one parquet file; returns its size in bytes."""
    import pyarrow.parquet as pq

    pq.write_table(table, path)
    return os.path.getsize(path)

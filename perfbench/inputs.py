"""Seeded benchmark inputs, generated once and cached on disk.

Every input is a pure function of (kind, seed, size). Files land in
``perfbench/.cache/<kind>-s<seed>-n<size>.parquet`` and are written
atomically, so a second run with the same seed and size reads them back and
input generation never sits inside a timed window. Generation uses
``spatial.synth`` (the repository's load generator) and the engine's pure
encoders; the engine under test only ever sees the resulting files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def _synth_seed(seed: int) -> int:
    # spatial.synth mixes (row index + seed), so neighbouring seeds would give
    # row-shifted copies of one table; spread them apart
    return 1_000_003 * seed + 17


def _cached(kind: str, seed: int, size: int, build) -> str:
    path = os.path.join(CACHE_DIR, f"{kind}-s{seed}-n{size}.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return path


def pages(seed: int, n: int, html_only: float) -> str:
    """Common-Crawl-shaped pages(url, warc_ts, html, text, lang).

    A seeded ``html_only`` share of the rows has a null text column, as in
    raw WARC records, so the pipeline has to extract their text from html;
    the other rows already carry text, which the pipeline keeps."""
    def build():
        from spatial.synth import pages_local

        pdf = pages_local(n, _synth_seed(seed))
        # parquet readers in Spark reject nanosecond timestamps
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        rng = np.random.default_rng(_synth_seed(seed) + 1)
        raw = rng.permutation(n)[:round(html_only * n)]
        text = pdf["text"].astype(object)
        text.iloc[raw] = None
        pdf["text"] = text
        schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        return pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)

    return _cached(f"pages-html{round(100 * html_only)}", seed, n, build)


def city_regions(seed: int) -> str:
    """The 20 synth city regions (spatial.synth.region_rings) as hex EWKB."""
    def build():
        from spatial.ewkb import encode_hex
        from spatial.geometry import polygon
        from spatial.synth import region_rings

        rows = [(rid, encode_hex(polygon(rings, srid=4326)))
                for rid, _city, rings in region_rings(seed=_synth_seed(seed))]
        return _regions_table(rows)

    return _cached("city-regions", seed, 20, build)


def nested_regions(seed: int, n: int) -> str:
    """``n`` polygons in nested families: a stack of ``depth`` rings around
    every gazetteer city and country centroid (where geocoded pages land, so
    each such point falls in several), the rest as nested triples scattered
    over the globe as dead build-side weight."""
    def build():
        from spatial.ewkb import encode_hex
        from spatial.gazetteer import CITIES, country_centroids
        from spatial.geometry import polygon

        rng = np.random.default_rng(_synth_seed(seed))
        hubs = ([(c[3], c[4]) for c in CITIES]
                + [(lon, lat) for _tld, lon, lat in country_centroids()])
        depth = 4
        centres = [(x, y, depth) for x, y in hubs]
        while len(centres) * depth < n:
            centres.append((float(rng.uniform(-170, 170)),
                            float(rng.uniform(-60, 70)), 3))
        rows = []
        for cx, cy, levels in centres:
            for level in range(levels):
                if len(rows) == n:
                    break
                radius = 0.3 + 0.45 * level + rng.uniform(0.0, 0.2)
                k = int(rng.integers(8, 17))
                ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
                rad = radius * rng.uniform(0.75, 1.25, k)
                ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                        for a, r in zip(ang, rad)]
                ring.append(ring[0])
                rows.append((len(rows), encode_hex(polygon([ring], srid=4326))))
        return _regions_table(rows)

    return _cached("nested-regions", seed, n, build)


def _regions_table(rows: list) -> pa.Table:
    return pa.table({"region_id": pa.array([r[0] for r in rows], pa.int64()),
                     "geom_hex": pa.array([r[1] for r in rows], pa.string())})


def _random_geom(rng: np.random.Generator):
    from spatial.geometry import (linestring, multilinestring, multipoint,
                                  multipolygon, point, polygon)

    has_z, has_m = [(False, False), (True, False), (False, True),
                    (True, True)][int(rng.integers(0, 4))]
    srid = [None, 4326, 3857][int(rng.integers(0, 3))]

    def positions(k):
        out = []
        for _ in range(k):
            pos = [float(rng.uniform(-180, 180)), float(rng.uniform(-90, 90))]
            if has_z:
                pos.append(float(rng.normal(0.0, 500.0)))
            if has_m:
                pos.append(float(rng.uniform(0.0, 1e6)))
            out.append(tuple(pos))
        return out

    def ring():
        pts = positions(int(rng.integers(3, 12)))
        return pts + [pts[0]]

    kind = int(rng.integers(1, 7))
    dims = {"srid": srid, "has_z": has_z, "has_m": has_m}
    if kind == 1:
        pos = positions(1)[0]
        return point(pos[0], pos[1], pos[2] if has_z else None,
                     pos[-1] if has_m else None, srid=srid)
    if kind == 2:
        return linestring(positions(int(rng.integers(2, 20))), **dims)
    if kind == 3:
        return polygon([ring() for _ in range(int(rng.integers(1, 4)))], **dims)
    if kind == 4:
        return multipoint(positions(int(rng.integers(1, 10))), **dims)
    if kind == 5:
        return multilinestring([positions(int(rng.integers(2, 8)))
                                for _ in range(int(rng.integers(1, 5)))], **dims)
    return multipolygon([[ring() for _ in range(int(rng.integers(1, 3)))]
                         for _ in range(int(rng.integers(1, 4)))], **dims)


def codec_corpus(seed: int, n: int) -> str:
    """Mixed geometry corpus: all six kinds, XY/XYZ/XYM/XYZM, SRID absent /
    4326 / 3857, each encoded as hex EWKB, binary EWKB, WKT and GeoJSON."""
    def build():
        from spatial.ewkb import encode_geom, encode_hex
        from spatial.geojson import encode_geojson
        from spatial.wkt import encode_wkt

        rng = np.random.default_rng(_synth_seed(seed))
        geoms = [_random_geom(rng) for _ in range(n)]
        return pa.table({
            "gid": pa.array(range(n), pa.int64()),
            "hex": pa.array([encode_hex(g) for g in geoms], pa.string()),
            "wkb": pa.array([encode_geom(g) for g in geoms], pa.binary()),
            "wkt": pa.array([encode_wkt(g) for g in geoms], pa.string()),
            "geojson": pa.array([encode_geojson(g) for g in geoms], pa.string()),
        })

    return _cached("codec", seed, n, build)


def page_points(seed: int, n: int) -> str:
    """(id, x, y) where geocoding puts ``n`` synth pages, by the geocoder's
    documented rules in priority order: an explicit ``lat, lon`` pair in the
    text, else the first gazetteer city named in it, else the country
    centroid of the url's ccTLD. Pages land on a few hot city and country
    centroids, so the points are heavily duplicated there."""
    def build():
        import re

        from spatial.gazetteer import CITIES, country_centroids
        from spatial.synth import pages_local

        pdf = pages_local(n, _synth_seed(seed))
        pair = re.compile(r"(-?\d{1,2}\.\d{3,8}),\s*(-?\d{1,3}\.\d{3,8})")
        city = re.compile("|".join(re.escape(c[0]) for c in
                                   sorted(CITIES, key=lambda c: -len(c[0]))))
        city_at = {c[0]: (c[3], c[4]) for c in CITIES}
        tld_at = {t: (x, y) for t, x, y in country_centroids()}
        ids, xs, ys = [], [], []
        for i, (url, text) in enumerate(zip(pdf["url"], pdf["text"])):
            text = text.lower()
            if (m := pair.search(text)) and abs(float(m[1])) <= 90 and abs(float(m[2])) <= 180:
                pt = (float(m[2]), float(m[1]))
            elif m := city.search(text):
                pt = city_at[m[0]]
            else:
                pt = tld_at.get(url.split("/")[2].rsplit(".", 1)[-1])
            if pt is not None:
                ids.append(i)
                xs.append(pt[0])
                ys.append(pt[1])
        return pa.table({"id": pa.array(ids, pa.int64()), "x": pa.array(xs, pa.float64()),
                         "y": pa.array(ys, pa.float64())})

    return _cached("page-points", seed, n, build)


def knn_queries(seed: int, n: int) -> str:
    """Query points: half dense (within ~0.05 deg of a Zipf-picked hot city,
    where the index is crowded) and half sparse (open ocean, polar and desert
    boxes, where ring expansion runs dry and the brute-force fallback runs)."""
    def build():
        from spatial.gazetteer import CITIES

        rng = np.random.default_rng(_synth_seed(seed))
        zipf = 1.0 / np.arange(1, 21)
        zipf /= zipf.sum()
        empty_boxes = [(-150, -120, -50, -20), (-40, -20, -55, -35),
                       (60, 90, -60, -40), (-30, 30, -85, -75), (5, 25, 18, 28)]
        xs, ys = [], []
        for i in range(n):
            if i % 2 == 0:
                c = CITIES[int(rng.choice(20, p=zipf))]
                xs.append(float(c[3] + rng.normal(0.0, 0.05)))
                ys.append(float(c[4] + rng.normal(0.0, 0.05)))
            else:
                x0, x1, y0, y1 = empty_boxes[int(rng.integers(0, len(empty_boxes)))]
                xs.append(float(rng.uniform(x0, x1)))
                ys.append(float(rng.uniform(y0, y1)))
        return pa.table({"query_id": pa.array(range(n), pa.int64()),
                         "qx": pa.array(xs, pa.float64()),
                         "qy": pa.array(ys, pa.float64())})

    return _cached("knn-queries", seed, n, build)

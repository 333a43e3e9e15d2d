"""Seeded benchmark inputs. The engine sees only what these functions write.

Every generator takes the run's ``seed`` and is deterministic in it. The
raster corpus reuses the fixture grid/codec recipe (``fixtures.make_grid``,
``codecs.encode``) so the codec mix, nodata islands and duplicates match the
repository's test corpus; the seed moves the image-index range. Zones,
points, documents and embeddings are drawn from ``numpy.random`` streams
keyed by the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pycuda_raster_spark.fixtures import (
    FMT_CYCLE,
    REGION,
    image_geo,
    make_grid,
)
from pycuda_raster_spark.functions import cellindex
from pycuda_raster_spark.functions.codecs import encode
from pycuda_raster_spark.functions.phash import phash64

DUP_EVERY = 10
NODATA_EVERY = 9
ZONE_RES = 6  # cover-cell resolution for zones and the point cell index
WORDS = (
    "spark table stream batch query scan sort hash join merge filter group "
    "agg window row column value key part line order data fast slow big "
    "small vector tile raster zone cell index a the of"
).split()


ZONES_SCHEMA = pa.schema([
    ("zone_id", pa.int64()), ("name", pa.string()),
    ("ring", pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))),
    ("cover_cells", pa.list_(pa.int64())),
])
POINTS_SCHEMA = pa.schema([("point_id", pa.int64()), ("x", pa.float64()),
                           ("y", pa.float64()), ("cell", pa.int64())])
SITES_SCHEMA = pa.schema([("site_id", pa.int64()), ("x", pa.float64()),
                          ("y", pa.float64()), ("cell", pa.int64())])


@dataclass(frozen=True)
class Sizes:
    images: int
    edge: int
    zones: int
    points: int
    docs: int
    vectors: int
    dim: int
    queries: int


FULL = Sizes(images=96, edge=256, zones=64, points=3000, docs=1500,
             vectors=1500, dim=64, queries=64)
TINY = Sizes(images=12, edge=64, zones=8, points=300, docs=200,
             vectors=200, dim=16, queries=8)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def image_base(seed: int, n: int) -> int:
    """First image index of the seed's corpus: seeds use disjoint ranges."""
    return (int(seed) % 10_000) * n


def _source_index(j: int) -> int:
    """Local index whose grid image ``j`` repeats (every DUP_EVERY-th image
    duplicates the one DUP_EVERY earlier, as in ``fixtures.build_images``)."""
    if j >= DUP_EVERY and j % DUP_EVERY == DUP_EVERY - 1:
        return j - DUP_EVERY
    return j


def image_grid(seed: int, j: int, sz: Sizes) -> tuple[np.ndarray, str]:
    """(source grid, codec) of local image ``j`` before encoding."""
    src = _source_index(j)
    fmt = FMT_CYCLE[src % len(FMT_CYCLE)]
    nodata = src % NODATA_EVERY == NODATA_EVERY - 1
    return make_grid(image_base(seed, sz.images) + src, sz.edge, sz.edge, fmt,
                     nodata), fmt


def write_images(path: str, seed: int, sz: Sizes) -> None:
    """Images table in the engine's images shape plus geo columns."""
    cols: dict[str, list] = {k: [] for k in (
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "x0", "y0", "cellsize")}
    base = image_base(seed, sz.images)
    cache: dict[int, tuple[bytes, str, int]] = {}
    for j in range(sz.images):
        src = _source_index(j)
        if src not in cache:
            g, fmt = image_grid(seed, j, sz)
            cache[src] = (encode(g, fmt), fmt, phash64(g))
        blob, fmt, ph = cache[src]
        x0, y0, cs = image_geo(j, sz.images, sz.edge)
        for k, v in (("image_id", f"img{base + j:08d}"), ("bytes", blob),
                     ("w", sz.edge), ("h", sz.edge), ("fmt", fmt),
                     ("caption", f"tile {base + src} of synthetic terrain"),
                     ("phash", ph), ("x0", x0), ("y0", y0), ("cellsize", cs)):
            cols[k].append(v)
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("x0", pa.float64()), ("y0", pa.float64()),
        ("cellsize", pa.float64()),
    ])
    pq.write_table(pa.table(cols, schema=schema), path)


def write_rows(path: str, rows: list[dict], schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def build_zones(seed: int, n: int) -> list[dict]:
    """Simple (some concave) polygons over the image region, with the bbox
    cover cells the PIP filter joins on."""
    rng = _rng(seed, 1)
    rows = []
    for z in range(n):
        cx, cy = rng.uniform(REGION * 0.1, REGION * 0.9, size=2)
        n_v = int(rng.integers(5, 12))
        base_r = rng.uniform(REGION * 0.03, REGION * 0.2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=n_v))
        rad = base_r * (1.0 + rng.uniform(-0.4, 0.6, size=n_v))
        xs = np.clip(cx + rad * np.cos(ang), 0, cellindex.WORLD - 1e-9)
        ys = np.clip(cy + rad * np.sin(ang), 0, cellindex.WORLD - 1e-9)
        cover = cellindex.cells_covering_bbox(xs.min(), ys.min(), xs.max(),
                                              ys.max(), ZONE_RES)
        rows.append({
            "zone_id": z, "name": f"zone_{z}",
            "ring": [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)],
            "cover_cells": [int(c) for c in cover],
        })
    return rows


def build_points(seed: int, n: int) -> list[dict]:
    """Half uniform over the region, half in three tight clusters: the
    clusters pile hundreds of points into a few cells (the kNN skew case)."""
    rng = _rng(seed, 2)
    n_u = n // 2
    xs = [rng.uniform(0, REGION, size=n_u)]
    ys = [rng.uniform(0, REGION, size=n_u)]
    rest = n - n_u
    for c in range(3):
        m = rest // 3 + (rest % 3 if c == 2 else 0)
        cx, cy = rng.uniform(REGION * 0.15, REGION * 0.85, size=2)
        xs.append(np.clip(rng.normal(cx, 4.0, size=m), 0, cellindex.WORLD - 1e-9))
        ys.append(np.clip(rng.normal(cy, 4.0, size=m), 0, cellindex.WORLD - 1e-9))
    x, y = np.concatenate(xs), np.concatenate(ys)
    cells = cellindex.cell(x, y, ZONE_RES)
    return [{"point_id": i, "x": float(x[i]), "y": float(y[i]),
             "cell": int(cells[i])} for i in range(n)]


def sites_of(points: list[dict]) -> list[dict]:
    """Every 10th point is a site."""
    return [{"site_id": p["point_id"], "x": p["x"], "y": p["y"],
             "cell": p["cell"]} for p in points[::10]]


def write_documents(path: str, seed: int, n: int) -> None:
    """Short word documents; every 8th one is a light edit of an earlier
    document, so the corpus holds a known population of near-duplicates."""
    rng = _rng(seed, 3)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and i % 8 == 7:
            toks = texts[int(rng.integers(0, i - 1))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, size=int(rng.integers(12, 60))))
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    pq.write_table(pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[k] for k in order], pa.string()),
    }), path)


def embeddings(seed: int, n: int, dim: int) -> np.ndarray:
    """Clustered float32 vectors: 16 seeded means plus noise."""
    rng = _rng(seed, 4)
    means = rng.standard_normal((16, dim))
    lab = rng.integers(0, 16, size=n)
    return (means[lab] + 0.6 * rng.standard_normal((n, dim))).astype(np.float32)


def write_embeddings(path: str, seed: int, n: int, dim: int) -> None:
    emb = embeddings(seed, n, dim)
    order = _rng(seed, 5).permutation(n)
    pq.write_table(pa.table({
        "vec_id": pa.array(order.astype(np.int64)),
        "embedding": pa.array(list(emb[order]), pa.list_(pa.float32())),
    }), path)


def query_ids(seed: int, n: int, n_queries: int) -> list[int]:
    return sorted(int(v) for v in _rng(seed, 6).choice(n, n_queries, replace=False))


def centroids(seed: int, dim: int, n: int = 8) -> np.ndarray:
    v = _rng(seed, 7).standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)
